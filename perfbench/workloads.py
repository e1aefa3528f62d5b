"""The three layer drivers the workloads are built from.

Each driver calls one layer of the engine through its public functions
and checks every output it gets back:

- :class:`Search` — the reference app's single-user session over the
  curated stores: ``operators.search`` builders, memoized through
  ``plans.memo.QueryMemo.get_or_compute``. Its set-up is the
  ``etl.pipeline.run_etl`` load that fills the stores.
- :class:`Corpus` — passes over the curation rows of ``catalog.QUERIES``.

An operation (``op``) is one search request or one pass over the
corpus rows. Drivers append ``(kind, ms)`` samples to ``self.samples``,
timing only the program's calls (checks run outside the timers), and
raise :class:`WrongOutput` on a wrong result.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import os
import random
import shutil
import sys
import time

from pyspark.sql import functions as F

from spans import Tracer, catalyst_phases_ms

#: Catalog rows of the corpus tier (ROADMAP item 3's targets).
CORPUS_ROWS = ("dedup_ngram_jaccard", "dedup_canonical",
               "dedup_clusters_star", "dedup_minhash_lsh",
               "corpus_training_set")


class WrongOutput(AssertionError):
    """A result differs from its independently computed expectation."""


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise WrongOutput(msg)


class Driver:
    def __init__(self, spark, tracer: Tracer, work: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.samples: list[tuple[str, float]] = []
        self.steps: list[int] = []      # ops sampled per step
        self.attempted = 0
        self.failed = 0

    def rebind(self, spark) -> None:
        """Point the driver at a restarted session."""
        self.spark = spark

    def prepare(self) -> None:
        """Untimed preparation after set-up."""

    def reopen(self) -> None:
        """Re-open the driver's inputs on a restarted session."""

    def step(self) -> None:
        raise NotImplementedError

    def run(self, seconds: float | None = None, n: int | None = None) -> float:
        """Closed loop of whole :meth:`step`\ s: ``n`` of them, or as many
        as end nearest to ``seconds`` (another step starts only while
        half the last one still fits), so the step count is the same
        from run to run unless the step time moves by ~20%. Appends
        each step's op count to ``self.steps``."""
        t0 = last = time.perf_counter()
        done = 0
        while True:
            ops = len(self.samples)
            self.step()
            done += 1
            now = time.perf_counter()
            self.steps.append(len(self.samples) - ops)
            if n is not None and done >= n:
                break
            if seconds is not None and now - t0 + (now - last) / 2 >= seconds:
                break
            last = now

    def check(self) -> None:
        """Outputs checked after the loop (most are checked as they come)."""

    def _guard(self, op) -> None:
        """Run one operation; an exception other than a wrong output
        counts as a failed operation and the loop goes on."""
        self.attempted += 1
        try:
            op()
        except WrongOutput:
            raise
        except Exception as e:  # noqa: BLE001 - counted, reported, survived
            self.failed += 1
            print(f"operation failed: {type(e).__name__}: {str(e)[:300]}",
                  file=sys.stderr)

    def _act(self, name: str, df):
        """Collect ``df`` inside a span; in traced runs read the
        Catalyst phases of the frame that executed the action."""
        with self.tracer.span(name) as sp:
            out = df.collect()
        if self.tracer.sc is not None:
            sp["phases"] = catalyst_phases_ms(df)
        return out


def _digest(rows, cols: list[str] | None = None) -> str:
    """Order-insensitive digest of collected rows, normalized the way
    ``tests.parity.compare`` normalizes both engines (columns sorted by
    lower-cased name, ``_norm`` per cell, rows sorted by ``repr``)."""
    from tests.parity import _norm
    if cols is None:
        cols = list(rows[0].__fields__) if rows else []
    lc = [c.lower() for c in cols]
    idx = [lc.index(c) for c in sorted(lc)]
    norm = sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=repr)
    return hashlib.sha256(repr((sorted(lc), norm)).encode()).hexdigest()


# -- search session ----------------------------------------------------

class Search(Driver):
    """One closed-loop client of the search app.

    Requests come in blocks of :data:`BLOCK` (fixed composition, seeded
    order), so every window serves the same mix of request kinds:
    memoized keyword/hashtag/lang/date ``search_tweets`` with author
    join, user pages, sidebar top-k, ``paginate`` and ``top_retweeters``
    for one tweet. The shares (half searches, then user pages and pages,
    then sidebar and retweeters) are an assumption, not a measured
    usage log.

    Every search draws its key from a seeded Zipf distribution
    (exponent :data:`ZIPF_S`) over one key per word of
    ``gen_tweets.KEYWORDS`` (50 words, each with seeded hashtag/lang/
    date filters). The vocabulary is larger than :data:`MAX_ENTRIES`,
    so hits, misses and evictions are decided by the memo's own policy.
    The draws are stratified: a block's searches take one draw from
    each equal slice of the Zipf CDF, in seeded order. That keeps each
    key's probability and halves the seed-to-seed spread of the hit
    count in a window.
    """

    MAX_ENTRIES = 8
    ZIPF_S = 1.2
    BLOCK = (("search",) * 10 + ("user_page",) * 3 + ("sidebar",) * 2
             + ("paginate",) * 3 + ("retweeters",) * 2)

    def __init__(self, spark, tracer, work, capture: str, manifest: dict, seed: int):
        super().__init__(spark, tracer, work)
        import gen_tweets as G
        self.capture = capture
        self.golden = manifest["golden"]
        self.rng = random.Random(seed * 7919 + 17)
        kws = list(G.KEYWORDS)
        self.rng.shuffle(kws)
        self.keys = [self._search_key(kw) for kw in kws]    # Zipf rank order
        weights = [1.0 / (r + 1) ** self.ZIPF_S for r in range(len(kws))]
        self.key_cdf = list(itertools.accumulate(w / sum(weights) for w in weights))
        self.strata: list[float] = []
        self.n_users = manifest["n_users_drawn"]
        self.loads = 0
        self.queue: list[str] = []
        self.recorded: dict[str, str] = {}     # memo fingerprint -> digest at miss
        self.log: list[tuple[str, dict, object]] = []
        self.hits = self.misses = 0
        self._expect: dict = {}

    # set-up: fill the stores, restore the memo
    def setup(self) -> None:
        from twitter_analysis_spark.etl.pipeline import run_etl
        out = os.path.join(self.work, f"stores{self.loads}")
        self.loads += 1
        with self.tracer.span("etl.pipeline.run_etl", raw_bytes=os.path.getsize(self.capture)):
            counts = run_etl(self.spark, self.capture, out)
        _check_etl(counts, self.golden)
        if self.loads > 1:
            shutil.rmtree(self.stores, ignore_errors=True)
        self.stores = out
        self.reopen()
        self.entries_at_start = self.memo.stats()["entries"]

    def reopen(self) -> None:
        from twitter_analysis_spark.plans.memo import QueryMemo
        with self.tracer.span("plans.memo.restore"):
            self.memo = QueryMemo(self.spark, os.path.join(self.work, "memo"),
                                  max_entries=self.MAX_ENTRIES)
        self.tweets = self.spark.read.parquet(f"{self.stores}/tweets.parquet")
        self.users = self.spark.read.parquet(f"{self.stores}/users.parquet")

    def prepare(self) -> None:
        """Untimed: pick the tweets the retweeter pages show."""
        self._expect["top_ids"] = [r[0] for r in self._duck().execute(
            "SELECT id_str FROM tweets ORDER BY len(retweets) DESC, id_str "
            "LIMIT 20").fetchall()]

    def _search_key(self, keyword: str) -> dict:
        import gen_tweets as G
        r = self.rng
        p = {"entity": "tweet", "keyword": keyword,
             "hashtags": [r.choice(G.HASHTAGS[:10])] if r.random() < 0.3 else None,
             "lang": "en" if r.random() < 0.5 else None,
             "date_start": None, "date_end": None}
        if r.random() < 0.3:
            d = r.randrange(1, 20)
            p["date_start"] = f"2020-04-{d:02d} 00:00:00"
            p["date_end"] = f"2020-04-{d + 10:02d} 00:00:00"
        return p

    def _request_params(self) -> tuple[str, dict]:
        r = self.rng
        if not self.queue:
            self.queue = list(self.BLOCK)
            r.shuffle(self.queue)
        kind = self.queue.pop(0)
        if kind == "search":
            if not self.strata:
                n = self.BLOCK.count("search")
                self.strata = [(i + r.random()) / n for i in range(n)]
                r.shuffle(self.strata)
            u = self.strata.pop()
            return kind, self.keys[min(bisect.bisect(self.key_cdf, u), len(self.keys) - 1)]
        if kind == "user_page":
            idx = r.randrange(10) if r.random() < 0.3 else r.randrange(self.n_users)
            return kind, {"screen_name": f"user{idx}"}
        if kind == "paginate":
            return kind, {"page": r.randrange(5)}
        if kind == "retweeters":
            return kind, {"rank": r.randrange(20)}
        return kind, {}

    def request(self) -> None:
        from twitter_analysis_spark.operators import search as S
        kind, p = self._request_params()
        t0 = time.perf_counter()
        with self.tracer.span("request", kind=kind):
            if kind == "search":
                rows, hit = self._memo_search(p)
            elif kind == "user_page":
                with self.tracer.span("operators.search.build"):
                    u = S.user_by_screen_name(self.users, p["screen_name"])
                urows = self._act("operators.search.exec", u)
                trows = []
                if urows:
                    with self.tracer.span("operators.search.build"):
                        t = S.tweets_for_user(self.tweets, urows[0]["id"])
                    trows = self._act("operators.search.exec", t)
                rows = (urows, trows)
            elif kind == "sidebar":
                with self.tracer.span("operators.search.build"):
                    a = S.top_users_by_followers(self.users)
                    b = S.top_tweets_by_favorites(self.tweets)
                rows = (self._act("operators.search.exec", a),
                        self._act("operators.search.exec", b))
            elif kind == "paginate":
                with self.tracer.span("operators.search.build"):
                    df = S.paginate(self.tweets.select("id_str", "favorite_count"),
                                    [F.desc("favorite_count"), F.asc("id_str")],
                                    p["page"])
                rows = self._act("operators.search.exec", df)
            else:
                og = self._expect["top_ids"][p["rank"]]
                with self.tracer.span("operators.search.build"):
                    df = S.top_retweeters(self.tweets.where(F.col("id_str") == og))
                rows = self._act("operators.search.exec", df)
                p = {"og_id": og}
        self.samples.append((kind, (time.perf_counter() - t0) * 1000.0))
        if kind == "search":
            self._check_memo(p, rows, hit)
        self.log.append((kind, p, _compact(kind, rows)))

    def _memo_search(self, p: dict) -> tuple[list, bool]:
        from twitter_analysis_spark.operators import search as S
        built = []

        def builder():
            with self.tracer.span("operators.search.build"):
                df = S.search_tweets(self.tweets, self.users,
                                     **{k: v for k, v in p.items() if k != "entity"})
            built.append(df)
            return df

        with self.tracer.span("plans.memo.get_or_compute") as sp:
            df = self.memo.get_or_compute(p, builder)
            rows = self._act("operators.search.exec", df)
        sp["hit"] = not built
        return rows, not built

    def _check_memo(self, p: dict, rows: list, hit: bool) -> None:
        """A hit must return the result recorded at the key's last miss."""
        from twitter_analysis_spark.plans.memo import fingerprint
        fp = fingerprint(p)
        if hit:
            self.hits += 1
            _check(self.recorded.get(fp) == _digest(rows),
                   f"memo hit for {p} differs from the result recorded at its miss")
        else:
            self.misses += 1
            self.recorded[fp] = _digest(rows)

    def step(self) -> None:
        """One step is a whole block of requests, so every window holds
        the same request mix."""
        for _ in self.BLOCK:
            self._guard(self.request)

    # -- output checks (DuckDB over the curated Parquet the ETL wrote) --
    def _duck(self):
        if "con" not in self._expect:
            import duckdb
            con = duckdb.connect()
            con.execute("SET TimeZone='UTC'")
            for t in ("tweets", "users"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.stores}/{t}.parquet/*.parquet')")
            self._expect["con"] = con
        return self._expect["con"]

    def check(self) -> None:
        con = self._duck()
        authors = dict(con.execute("SELECT id, screen_name FROM users").fetchall())
        for kind, p, got in self.log:
            if kind == "search":
                self._check_search(con, p, got, authors)
            elif kind == "user_page":
                ids, trows = got
                want = [r[0] for r in con.execute(
                    "SELECT id FROM users WHERE screen_name = ?", [p["screen_name"]]).fetchall()]
                _check(sorted(ids) == sorted(want),
                       f"user_by_screen_name({p['screen_name']}) rows differ")
                if ids:
                    want = con.execute(
                        "SELECT retweet_count, favorite_count, user_id FROM tweets "
                        "WHERE user_id = ? ORDER BY 1 DESC, 2 DESC LIMIT 50", [ids[0]]).fetchall()
                    _check(trows == want, f"tweets_for_user({ids[0]}) sort-key sequence differs")
            elif kind == "sidebar":
                want = (con.execute("SELECT screen_name, name, followers_count FROM users "
                                    "ORDER BY followers_count DESC, screen_name LIMIT 5").fetchall(),
                        con.execute("SELECT id_str, text, favorite_count FROM tweets "
                                    "ORDER BY favorite_count DESC, id_str LIMIT 5").fetchall())
                _check(got == want, "sidebar top-k differs")
            elif kind == "paginate":
                want = con.execute("SELECT id_str, favorite_count FROM tweets ORDER BY "
                                   "favorite_count DESC, id_str LIMIT 10 OFFSET ?",
                                   [p["page"] * 10]).fetchall()
                _check(sorted(got, key=lambda t: (-t[1], t[0])) == want,
                       f"paginate page {p['page']} differs")
            else:
                want = con.execute(
                    "SELECT og_id, rt_id, rt_user_id, rt_favorite_count, rn FROM ("
                    " SELECT id_str AS og_id, r.id_str AS rt_id, r.user_id AS rt_user_id,"
                    " r.favorite_count AS rt_favorite_count, row_number() OVER ("
                    "  ORDER BY r.favorite_count DESC, r.id_str) AS rn"
                    " FROM (SELECT id_str, unnest(retweets) AS r FROM tweets WHERE id_str = ?))"
                    " WHERE rn <= 30 ORDER BY rn", [p["og_id"]]).fetchall()
                _check(sorted(got, key=lambda t: t[-1]) == want,
                       f"top_retweeters({p['og_id']}) differs")

    def _check_search(self, con, p: dict, got: list, authors: dict) -> None:
        kw = p["keyword"].lower()
        ors = ["contains(lower(text), ?)"]
        args: list = [kw]
        if p["hashtags"]:
            ors.append("list_has_any(list_transform(entities.hashtags, h -> h.text), ?)")
            args.append(p["hashtags"])
        where = ["(" + " OR ".join(ors) + ")"]
        if p["lang"]:
            where.append("lang = ?")
            args.append(p["lang"])
        if p["date_start"]:
            where.append("created_at_ts BETWEEN CAST(? AS TIMESTAMP) AND CAST(? AS TIMESTAMP)")
            args += [p["date_start"], p["date_end"]]
        want = con.execute(
            "SELECT favorite_count, retweet_count, created_at_ts FROM tweets WHERE "
            + " AND ".join(where) + " ORDER BY 1 DESC, 2 DESC, 3 DESC LIMIT 50", args).fetchall()
        _check(sorted((r[:3] for r in got), reverse=True) == want,
               f"search_tweets({p}) sort-key sequence differs")
        tags = set(p["hashtags"] or ())
        for fav, rt, ts, text, lang, hashtags, user_id, author in got:
            ok = (kw in text.lower() or bool(tags & set(hashtags)))
            ok = ok and (not p["lang"] or lang == p["lang"])
            ok = ok and (not p["date_start"] or str(p["date_start"]) <= str(ts) <= str(p["date_end"]))
            ok = ok and author == authors.get(user_id)
            _check(ok, f"search_tweets({p}) returned a row outside its predicate")

    def memo_stats(self) -> dict:
        entries = self.memo.stats()["entries"]
        return {"hits": self.hits, "misses": self.misses,
                "evictions": self.entries_at_start + self.misses - entries}


def _compact(kind: str, rows):
    """The fields a request's check needs, as plain tuples, so the
    session log does not keep collected Rows alive."""
    if kind == "search":
        return [(r["favorite_count"], r["retweet_count"], r["created_at_ts"], r["text"],
                 r["lang"], tuple(h["text"] for h in r["entities"]["hashtags"] or ()),
                 r["user_id"], r["author_screen_name"]) for r in rows]
    if kind == "user_page":
        users, tweets = rows
        return ([u["id"] for u in users],
                [(t["retweet_count"], t["favorite_count"], t["user_id"]) for t in tweets])
    if kind == "sidebar":
        return tuple([tuple(r) for r in part] for part in rows)
    return [tuple(r) for r in rows]


def _check_etl(counts: dict, golden: dict) -> None:
    _check(counts == {"n_tweets": golden["n_unique_originals"],
                      "n_users": golden["n_unique_users"]},
           f"run_etl counts {counts} != golden originals/users "
           f"{golden['n_unique_originals']}/{golden['n_unique_users']}")


# -- corpus curation -----------------------------------------------------

class Corpus(Driver):
    """Passes over :data:`CORPUS_ROWS` on the seeded ``documents`` table.

    Before the first pass, each row's DuckDB oracle (``catalog.ORACLES``)
    runs once and its result is digested with ``tests.parity``'s cell
    normalisation; every row run, the warm-up pass included, must
    reproduce that digest. One op is one whole pass, so the pass time
    moves with every row.
    """

    def __init__(self, spark, tracer, work, docs_dir: str, manifest: dict):
        super().__init__(spark, tracer, work)
        self.docs_dir = docs_dir
        self.manifest = manifest
        self.expected: dict[str, str] = {}

    def setup(self) -> None:
        """No program set-up beyond the session."""

    def oracle_digests(self) -> None:
        """Digest each row's DuckDB oracle result (DuckDB only)."""
        from tests.parity import duck_connection
        from twitter_analysis_spark import catalog
        con = duck_connection(self.docs_dir)
        for row in CORPUS_ROWS:
            res = con.execute(catalog.ORACLES[row])
            self.expected[row] = _digest(res.fetchall(), [d[0] for d in res.description])
        con.close()

    def cap_report(self) -> dict:
        """``dedup.shingle_cap_report`` on the documents, checked
        against the generator's pure-Python count of the same cap."""
        from twitter_analysis_spark.operators import dedup
        from twitter_analysis_spark.sources.io import load_table
        docs = load_table(self.spark, self.docs_dir, "documents")
        rep = dedup.shingle_cap_report(docs, "doc_id", "text", n=3)
        want = {k: self.manifest["cap"][k] for k in rep}
        _check(rep == want, f"shingle_cap_report {rep} != expected {want}")
        return rep

    def row(self, name: str) -> float:
        """Build and collect one row; returns its time in ms."""
        from twitter_analysis_spark import catalog
        t0 = time.perf_counter()
        with self.tracer.span(f"catalog.{name}", row=name):
            with self.tracer.span(f"catalog.{name}.construct"):
                df = catalog.QUERIES[name](self.spark, self.docs_dir)
            rows = self._act(f"catalog.{name}.action", df)
        ms = (time.perf_counter() - t0) * 1000.0
        _check(_digest(rows, df.columns) == self.expected[name],
               f"{name} result differs from its DuckDB oracle")
        self.spark.catalog.clearCache()
        return ms

    def one_pass(self) -> None:
        """One pass; its sample is the sum of the row times."""
        times: list[float] = []
        with self.tracer.span("corpus.pass"):
            for name in CORPUS_ROWS:
                self._guard(lambda name=name: times.append(self.row(name)))
        self.samples.append(("pass", sum(times)))
        # Harness hygiene between passes, outside the row timers: the
        # driver JVM only reclaims broadcast and checkpoint blocks of
        # dropped frames when it collects garbage.
        self.spark.sparkContext._jvm.System.gc()

    def step(self) -> None:
        """One step is a whole pass over :data:`CORPUS_ROWS`."""
        self.one_pass()

