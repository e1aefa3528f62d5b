"""Seeded input generators for the benchmark.

Two inputs, each a pure function of ``(seed, size)``:

- a raw JSON-lines capture shaped like the Twitter streaming API
  (originals, ``RT``-prefixed retweets with a nested
  ``retweeted_status``, quote tweets, malformed/non-status lines and
  duplicate lines). Statuses come from ``tests/fixtures/gen_tweets.py``
  (``_status``, ``_entities``, ``twitter_date``) and the golden counts
  from its ``compute_golden``; unlike ``make_raw_stream`` the user
  count and the retweet-target count scale with the line count, so a
  large capture keeps a realistic retweets-per-original fan-out.
- a ``documents`` table with the testdata schema
  ``(doc_id, text, lang, source, n_chars)``: Zipfian vocabulary, a
  boilerplate footer on most documents (so the shingle document-
  frequency cap has something to prune) and planted groups of edited
  near-duplicate copies.

Run as a script it writes one input and its manifest (JSON on stdout):

    python3 perfbench/gen.py capture   --seed 1 --size 20000 --out DIR
    python3 perfbench/gen.py documents --seed 1 --size 480   --out DIR
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import sys
from collections import Counter
from datetime import timedelta

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests", "fixtures"))

import gen_tweets as G  # noqa: E402

#: Shingle width and document-frequency cap of the catalog's dedup rows
#: (operators/dedup.py DEFAULT_MAX_SHINGLE_DF); mirrored here so the
#: generator can state, independently of Spark, what the cap prunes.
SHINGLE_N = 3
MAX_SHINGLE_DF = 256


# -- raw capture ---------------------------------------------------------

def _raw_user(idx: int) -> dict:
    """User ``idx`` as the streaming API nests it; a pure function of
    the index so any index ``_status`` draws resolves to one user."""
    return {
        "id": 1000 + idx, "id_str": str(1000 + idx),
        "name": f"User Number {idx}", "screen_name": f"user{idx}",
        "location": ["NY", "SF", "London", None, "Paris"][idx % 5],
        "description": [None, "just tweeting", "engineer", "musician", ""][idx % 5],
        "verified": idx % 20 == 0,
        "followers_count": 10_000_000 - idx * 137,
        "friends_count": (idx * 31) % 5000,
        "created_at": G.twitter_date(G.BASE_DT - timedelta(days=idx % 3000)),
    }


def _raw_status(st: dict) -> dict:
    """Curated-shaped ``gen_tweets._status`` dict -> raw API line dict."""
    uidx = int(st["user_id"]) - 1000
    raw = {
        "created_at": st["created_at"], "id": int(st["id_str"]),
        "id_str": st["id_str"], "text": st["text"], "user": _raw_user(uidx),
        "timestamp_ms": "0", "lang": st["lang"],
        "favorite_count": st["favorite_count"],
        "retweet_count": st["retweet_count"],
        "quote_count": st["quote_count"], "reply_count": st["reply_count"],
        "is_quote_status": bool(st.get("quoted_status")),
        "entities": st["entities"],
    }
    if st.get("quoted_status"):
        raw["quoted_status"] = _raw_status(st["quoted_status"])
    return raw


def make_capture(seed: int, n_lines: int) -> tuple[list[str], dict]:
    """Raw capture of about ``n_lines`` lines plus its manifest.

    Shares follow ``make_raw_stream``: ~35% originals, ~55% retweets,
    ~5% quote tweets, ~5% malformed/non-status lines, then ~3% exact
    duplicate lines. Users scale as ``n_lines / 10`` and retweet
    targets as ``n_lines / 25`` (about 14 retweets per target).
    """
    rng = random.Random(seed)
    n_users = max(50, n_lines // 10)
    n_targets = max(10, n_lines // 25)
    langs, lang_w = G.LANGS, [70, 12, 10, 8]

    def user() -> int:
        # a few hot authors, long tail
        return rng.randrange(10) if rng.random() < 0.2 else rng.randrange(n_users)

    def when():
        return G.BASE_DT + timedelta(minutes=rng.randrange(30 * 24 * 60))

    def status(sid: int, quote: bool) -> dict:
        return _raw_status(G._status(rng, sid, user(), when(),
                                     rng.choices(langs, lang_w)[0], quote))

    n_orig, n_rt, n_quote = int(n_lines * .35), int(n_lines * .55), int(n_lines * .05)
    n_bad = n_lines - n_orig - n_rt - n_quote
    sid = 3_000_000_000
    lines: list[str] = []
    for _ in range(n_orig):
        lines.append(json.dumps(status(sid, quote=False)))
        sid += 1
    targets = []
    for _ in range(n_targets):
        targets.append(status(sid, quote=rng.random() < 0.2))
        sid += 1
    for _ in range(n_rt):
        og = targets[min(int(rng.paretovariate(1.2)) - 1, n_targets - 1)
                     if rng.random() < 0.3 else rng.randrange(n_targets)]
        rt = status(sid, quote=False)
        rt["text"] = f"RT @{og['user']['screen_name']}: {og['text'][:80]}"
        rt["retweeted_status"] = og
        lines.append(json.dumps(rt))
        sid += 1
    for _ in range(n_quote):
        lines.append(json.dumps(status(sid, quote=True)))
        sid += 1
    bad_pool = ['{"delete": {"status": {"id": 123, "id_str": "123"}}}',
                '{truncated json...', '', '{"limit": {"track": 42}}',
                'not json at all']
    lines.extend(bad_pool[i % len(bad_pool)] for i in range(n_bad))
    dups = rng.sample(lines[:n_orig], int(n_lines * 0.03))
    lines.extend(dups)
    rng.shuffle(lines)

    golden = G.compute_golden(lines)
    n = len(lines)
    manifest = {
        "n_lines": n,
        "bytes": sum(len(ln.encode()) + 1 for ln in lines),
        "n_users_drawn": n_users, "n_retweet_targets": n_targets,
        "rt_share": round(golden["n_retweet_lines"] / n, 4),
        "quote_share": round(sum('"quoted_status"' in ln for ln in lines) / n, 4),
        "malformed_share": round(golden["n_bad_lines"] / n, 4),
        "duplicate_share": round(len(dups) / n, 4),
        "golden": golden,
    }
    return lines, manifest


# -- documents -------------------------------------------------------------

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "so", "vi", "de", "pa",
              "gu", "be", "fo", "ri", "an", "el", "or", "us"]
_LANGS, _LANG_W = ["en", "fr", "de", "es", "it"], [70, 10, 8, 7, 5]
_FOOTER = ("share this page with your friends and follow us for more "
           "stories like this one").split()


def _vocabulary(size: int) -> list[str]:
    words = []
    for a in _SYLLABLES:
        for b in _SYLLABLES:
            for c in ["", *_SYLLABLES]:
                words.append(a + b + c)
    return words[:size]


def _edit(rng: random.Random, toks: list[str], vocab: list[str]) -> list[str]:
    """A near-duplicate copy: 1-3 token substitutions or deletions."""
    out = list(toks)
    for _ in range(rng.randint(1, 3)):
        i = rng.randrange(len(out))
        if rng.random() < 0.5 and len(out) > 10:
            del out[i]
        else:
            out[i] = rng.choice(vocab)
    return out


def shingle_cap_expectation(texts: list[str], n: int = SHINGLE_N,
                            cap: int = MAX_SHINGLE_DF) -> dict:
    """What the shingle DF cap prunes, computed in plain Python with the
    engine's tokenization (lower-case, split on whitespace) and shingling
    (``n`` consecutive tokens; shorter docs are one shingle)."""
    df: Counter = Counter()
    for t in texts:
        tk = t.lower().split()
        sh = ({" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}
              if len(tk) >= n else {" ".join(tk)})
        df.update(sh)
    dropped = sum(d for d in df.values() if d > cap)
    total = sum(df.values())
    return {"dropped_rows": dropped, "total_rows": total,
            "dropped_shingles": sum(d > cap for d in df.values()),
            "total_shingles": len(df), "max_df": max(df.values()),
            "cap_pruned_share": dropped / total}


def make_documents(seed: int, n_docs: int) -> tuple[list[tuple], dict]:
    """``documents`` rows plus a manifest. About 20% of the documents
    sit in planted near-duplicate groups of edited copies; about 75% end
    with a shared boilerplate footer. The group sizes are the same for
    every seed (only their content and position vary), so the near-dup
    graph, and with it the work of the clustering rows, keeps its shape
    from seed to seed."""
    rng = random.Random(seed)
    vocab = _vocabulary(1500)
    weights = [1.0 / (r + 1) ** 1.1 for r in range(len(vocab))]
    sizes: list[int] = []
    for size in itertools.cycle((2, 3, 2, 4, 2, 5, 3)):
        if sum(sizes) + size > n_docs // 5:
            break
        sizes.append(size)
    units = sizes + [1] * (n_docs - sum(sizes))
    rng.shuffle(units)
    texts: list[list[str]] = []
    for size in units:
        base = rng.choices(vocab, weights, k=rng.randint(25, 70))
        if rng.random() < 0.75:
            base = base + _FOOTER
        texts.append(base)
        texts.extend(_edit(rng, base, vocab) for _ in range(size - 1))
    rows = []
    for i, tk in enumerate(texts):
        text = " ".join(tk)
        rows.append((i, text, rng.choices(_LANGS, _LANG_W)[0],
                     f"src{rng.randrange(20)}", len(text)))
    cap = shingle_cap_expectation([r[1] for r in rows])
    manifest = {"n_docs": n_docs, "planted_share": sum(sizes) / n_docs,
                "planted_groups": len(sizes), "cap": cap,
                "cap_pruned_share": cap["cap_pruned_share"]}
    return rows, manifest


#: Tables ``tests.parity.duck_connection`` binds a view to. The corpus
#: rows read only ``documents``; the others are written empty.
PARITY_TABLES = ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "embeddings")


def write_documents(rows: list[tuple], out_dir: str) -> None:
    import duckdb
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    con.execute(f"COPY documents TO '{out_dir}/documents.parquet' (FORMAT parquet)")
    for t in PARITY_TABLES:
        con.execute(f"COPY (SELECT 1 AS unused LIMIT 0) TO "
                    f"'{out_dir}/{t}.parquet' (FORMAT parquet)")
    con.close()


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("kind", choices=["capture", "documents"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    os.makedirs(a.out, exist_ok=True)
    if a.kind == "capture":
        lines, manifest = make_capture(a.seed, a.size)
        with open(os.path.join(a.out, "capture.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
    else:
        rows, manifest = make_documents(a.seed, a.size)
        write_documents(rows, a.out)
    print(json.dumps(manifest))


if __name__ == "__main__":
    main()
