"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed gives
byte-identical parquet files (``python3 perfbench/gen.py --check``
verifies this). The generator never reads outside its output directory;
its word vocabulary is built from a fixed syllable table.

Each ``make_*`` function returns the input properties it produced, so a
result can be read against the shape of the data it ran on.
"""

from __future__ import annotations

import argparse
import datetime as dt
import filecmp
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_ONSETS = "b c d f g h j k l m n p r s t v w z br ch dr fl gr kr pl sh st tr".split()
_VOWELS = "a e i o u ai ea io ou".split()
_CODAS = ["", "n", "r", "s", "t", "l", "nd", "rk"]

EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])
#: error share sets the ERROR/FATAL routes' volume
EVENT_TYPE_P = [0.40, 0.30, 0.08, 0.10, 0.12]
EPOCH = dt.datetime(2024, 1, 1)

#: default ``max_band_size`` of ``functions.dedup.lsh_pairs``
LSH_BAND_CAP = 1000
#: planted near-duplicate cluster sizes of the corpus workload; the
#: first is larger than the hot-band cap
CLUSTER_SIZES = (1300, 60, 20, 8, 8, 4, 4, 2, 2)


def vocabulary(size: int = 4000) -> np.ndarray:
    """Deterministic pseudo-word vocabulary (no seed: it is a constant)."""
    words = [o + v + c for o in _ONSETS for v in _VOWELS for c in _CODAS]
    return np.array(words[:size])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _phrase(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    # mild Zipf skew: frequent words repeat, but random 3-grams of two
    # unrelated documents almost never collide (decontamination stays
    # about planted relatives, not vocabulary accidents)
    ranks = np.minimum(rng.zipf(1.15, n) - 1, len(vocab) - 1)
    ranks = np.where(rng.random(n) < 0.6, rng.integers(0, len(vocab), n), ranks)
    return list(vocab[ranks])


# ---------------------------------------------------------------------------
# flagship_batch: events.parquet + customer.parquet (the sf-table shape
# that sources.transcripts derives turns from)
# ---------------------------------------------------------------------------


def conversation_lengths(rng: np.random.Generator, turns: int) -> np.ndarray:
    """Heavy-tailed conversation lengths (Pareto, alpha 1.2) summing to
    exactly ``turns``; no conversation exceeds 4 % of all turns."""
    cap = max(2, turns // 25)
    lens: list[int] = []
    total = 0
    while total < turns:
        n = int(min(cap, 3 + 6 * rng.pareto(1.2)))
        n = min(n, turns - total)
        lens.append(n)
        total += n
    return np.array(lens, dtype=np.int64)


def make_flagship(out_dir: str, seed: int, turns: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 1)
    lens = conversation_lengths(rng, turns)
    n_conv = len(lens)
    # users are shuffled so conversation size is unrelated to user id
    user_of_conv = rng.permutation(n_conv).astype(np.int64)
    user_id = np.repeat(user_of_conv, lens)
    # interleave conversations in event order: event_id is the global
    # arrival order, turn order within a conversation follows it
    order = rng.permutation(turns)
    user_id = user_id[order]
    event_id = np.arange(turns, dtype=np.int64)
    etype = EVENT_TYPES[rng.choice(len(EVENT_TYPES), turns, p=EVENT_TYPE_P)]
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, turns))
    ts = np.datetime64(EPOCH, "us") + secs.astype("timedelta64[us]")
    value = np.round(rng.random(turns) * 500.0, 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, turns)]
    events = pa.table(
        {
            "event_id": event_id,
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": user_id,
            "event_type": etype,
            "value": value,
            "props": props,
        }
    )
    _write(events, os.path.join(out_dir, "events.parquet"))
    _write(_customers(rng, n_conv), os.path.join(out_dir, "customer.parquet"))
    return {
        "turns": turns,
        "conversations": n_conv,
        "top_conversation_share": round(float(lens.max()) / turns, 6),
    }


def _customers(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(rng.random(n) * 10000.0, 2),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n)],
        }
    )


# ---------------------------------------------------------------------------
# stream_incremental: transcript-shaped parquet files of fixed size
# ---------------------------------------------------------------------------

STREAM_CONVERSATIONS = 2000
_LEVELS = np.array(["DEBUG", "INFO", "WARN", "ERROR", "FATAL"])
_LEVEL_P = [0.30, 0.40, 0.15, 0.12, 0.03]
_ROLES = np.array(["user", "assistant", "system", "tool"])
_TOOLS = np.array(["bash", "search", "browser", "editor", ""])


def make_stream_dims(out_dir: str, seed: int) -> None:
    """The dims directory of the stream workload: customer.parquet feeds
    the conv_dim enrichment; sources.transcripts registers an events
    table beside it, so a one-conversation events.parquet goes along."""
    make_flagship(out_dir, seed, 2)
    _write(
        _customers(_rng(seed, 2), STREAM_CONVERSATIONS),
        os.path.join(out_dir, "customer.parquet"),
    )


def make_stream_file(path: str, seed: int, index: int, turns: int) -> None:
    """One transcript-shaped file (TRANSCRIPT_SCHEMA columns): ~70 % of
    lines match the canonical parse pattern, the rest are freeform."""
    rng = _rng(seed, 1000 + index)
    conv = rng.integers(0, STREAM_CONVERSATIONS, turns)
    secs = np.sort(rng.integers(0, 86400, turns)) + index * 86400
    ts = np.datetime64(EPOCH, "s") + secs.astype("timedelta64[s]")
    stamp = np.datetime_as_string(ts, unit="s")
    level = _LEVELS[rng.choice(len(_LEVELS), turns, p=_LEVEL_P)]
    svc = rng.integers(0, 7, turns)
    items = rng.integers(0, 500, turns)
    parseable = rng.random(turns) < 0.7
    text = [
        f"{s}Z {lv} svc-{c}: handled turn user={u} items={it}"
        if ok
        else f"freeform note {u} {it}"
        for s, lv, c, u, it, ok in zip(stamp, level, svc, conv, items, parseable)
    ]
    table = pa.table(
        {
            "conv_id": [f"conv-{c:08d}" for c in conv],
            "turn_idx": pa.array(
                index * turns + np.arange(turns), type=pa.int32()
            ),
            "role": _ROLES[rng.integers(0, 4, turns)],
            "text": text,
            "tool": _TOOLS[rng.integers(0, 5, turns)],
            "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us", tz="UTC")),
        }
    )
    _write(table, path)


# ---------------------------------------------------------------------------
# corpus_recipe: documents.parquet with planted near-duplicate clusters
# ---------------------------------------------------------------------------


def _perturb(
    rng: np.random.Generator, words: list[str], vocab: np.ndarray, n_sub: int
) -> list[str]:
    out = list(words)
    for i in rng.choice(len(out), n_sub, replace=False):
        out[i] = str(vocab[rng.integers(0, len(vocab))])
    return out


def _pii(rng: np.random.Generator, vocab: np.ndarray) -> str:
    user = vocab[rng.integers(0, len(vocab))]
    if rng.random() < 0.5:
        return f"{user}@example.org"
    return f"{rng.integers(200, 999)}-{rng.integers(100, 999)}-{rng.integers(1000, 9999)}"


def make_corpus(out_dir: str, seed: int, singles: int) -> dict:
    """Documents: ``singles`` unrelated docs plus the planted clusters.

    Cluster members are near-duplicates of one base text (one or two
    word substitutions). A quarter of the members of each cluster (at
    least one, at most 20) repeat another member up to case and
    whitespace, so exact dedup also has work. One in 50 singles is too
    short for the Gopher gate; one in ten carries an email or a phone
    number for the PII scrub.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 3)
    vocab = vocabulary()
    texts: list[str] = []
    for _ in range(singles):
        n = 4 if rng.random() < 0.02 else int(rng.integers(40, 140))
        words = _phrase(rng, vocab, n)
        if rng.random() < 0.1:
            words.insert(int(rng.integers(0, len(words))), _pii(rng, vocab))
        texts.append(" ".join(words))
    for size in CLUSTER_SIZES:
        # the hot cluster's members differ from its base by one word, so
        # most of them share each LSH band and the band buckets really
        # exceed the cap
        hot = size > 1000
        base = _phrase(rng, vocab, 110 if hot else int(rng.integers(60, 140)))
        members = [
            " ".join(_perturb(rng, base, vocab, 1 if hot else int(rng.integers(1, 3))))
            for _ in range(size)
        ]
        for _ in range(max(1, min(size // 4, 20))):
            i, j = rng.integers(0, size, 2)
            members[i] = members[j].upper().replace(" ", "  ", 3)
        texts.extend(members)
    # shuffle so doc_id order carries no cluster structure
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    n = len(texts)
    table = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "de", "fr", "es"])[rng.integers(0, 4, n)],
            "source": [f"src{s}" for s in rng.integers(0, 5, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    _write(table, os.path.join(out_dir, "documents.parquet"))
    return {
        "documents": n,
        "planted_cluster_sizes": list(CLUSTER_SIZES),
        "max_band_size_cap": LSH_BAND_CAP,
    }


def _same_bytes(a: str, b: str) -> bool:
    fa = sorted(os.listdir(a))
    return fa == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in fa
    )


def check_deterministic(work: str, seed: int) -> bool:
    """Generate every workload's input twice; True when byte-identical."""
    dirs = [os.path.join(work, f"gen{i}") for i in (0, 1)]
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
        make_flagship(os.path.join(d, "flagship"), seed, 5000)
        make_corpus(os.path.join(d, "corpus"), seed, 200)
        make_stream_dims(os.path.join(d, "stream"), seed)
        for i in range(3):
            make_stream_file(os.path.join(d, "stream", f"f{i}.parquet"), seed, i, 500)
    ok = all(
        _same_bytes(os.path.join(dirs[0], w), os.path.join(dirs[1], w))
        for w in ("flagship", "corpus", "stream")
    )
    for d in dirs:
        shutil.rmtree(d)
    return ok


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true",
                    help="verify that one seed gives byte-identical inputs")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--work", default=".perfbench_work/gen-check")
    args = ap.parse_args(argv)
    if args.check:
        ok = check_deterministic(args.work, args.seed)
        print("deterministic" if ok else "NOT deterministic")
        return 0 if ok else 1
    ap.print_help()
    return 2


if __name__ == "__main__":
    sys.exit(main())
