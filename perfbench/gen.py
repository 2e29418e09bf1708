"""Seeded input generator for the benchmark, run as its own process.

The system under test never sees the seed: it only reads the files this
program writes. Every kind of input is a pure function of ``--seed`` and
the size parameters, except the ``created_ns`` stamps, which are wall-clock
times by definition.

    python3 perfbench/gen.py records    --seed 1 --out DIR --n 2000 --files 4
    python3 perfbench/gen.py corpus     --seed 1 --out DIR
    python3 perfbench/gen.py embeddings --seed 1 --out DIR
    python3 perfbench/gen.py live       --seed 1 --out DIR --seconds 14 --summary FILE

Sizes and shapes are the module constants below; the workloads read the
ones their checks need from here, so each is stated once.

Why each input exists (the workload that consumes it is named first):

- stream_live pre-warm batch / ``records``: FIXTURES.md A1 keyed records
  (8-letter key, 64-letter ``a``, ``b`` in [0, 1000]) plus a
  ``created_ns`` stamp, staged as several JSON-lines files so the produce
  scan can run one task per core. It pushes both live queries through
  their first batches before the open loop starts.
- stream_live / ``live``: the same record shape dropped into the input
  directory on an open-loop schedule (one file per tick, written then
  renamed), each record stamped with the time it was due. At a rate far
  below what the queries can drain, latency is the fixed per-micro-batch cost, not
  codec speed.
- dedup_batch / ``corpus``: Zipf-vocabulary documents with a stated share
  of planted exact duplicates and near-duplicates (a few % of words
  replaced), so how much work inputs share is a parameter and planted
  recall is checkable.
- vector_search / ``embeddings``: clustered vectors (Gaussian blobs around
  random centres), the structure IVF indexes are built for.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

_LETTERS = np.frombuffer(b"ABCDEFGHIJKLMNOPQRSTUVWXYZ", dtype=np.uint8)

# live: records per second and the file period of the open-loop schedule
RATE = 1000.0
TICK_S = 0.1

# corpus: Zipf(ZIPF) words over VOCAB, documents of MIN_WORDS..MAX_WORDS
# words. How much work inputs share is stated here: DUP_FRAC of the
# documents are exact copies of an original, and NEAR_FRAC are copies with
# EDIT_FRAC of their words replaced.
N_DOCS = 2000
VOCAB = 20_000
ZIPF = 1.1
MIN_WORDS, MAX_WORDS = 50, 90
DUP_FRAC = 0.05
NEAR_FRAC = 0.05
EDIT_FRAC = 0.02

# embeddings: N_VECTORS points of DIM dims in CLUSTERS Gaussian blobs
N_VECTORS = 1024
DIM = 64  # pq_codebook splits vectors into 8 subspaces of 8 dims
CLUSTERS = 32
NOISE = 0.35

FILES = 8  # parquet files per corpus or embeddings input


def _letters(rng: np.random.Generator, n: int, width: int) -> list[str]:
    codes = _LETTERS[rng.integers(0, 26, size=(n, width))]
    return [row.tobytes().decode("ascii") for row in codes]


def a1_records(rng: np.random.Generator, n: int) -> list[tuple[str, str, int]]:
    """(key, a, b) triples shaped like FIXTURES.md A1."""
    keys = _letters(rng, n, 8)
    payloads = _letters(rng, n, 64)
    bs = rng.integers(0, 1001, size=n).tolist()
    return list(zip(keys, payloads, bs))


def record_line(key: str, a: str, b: int, created_ns: int) -> str:
    return json.dumps(
        {"key": key, "value": {"a": a, "b": b, "created_ns": created_ns}},
        separators=(",", ":"),
    )


def write_atomic(path: str, text: str) -> None:
    """Write-then-rename: a reader listing the directory never sees a
    partial file (Spark's file source skips names starting with '.')."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)


def gen_records(args: argparse.Namespace) -> None:
    rng = np.random.default_rng(args.seed)
    os.makedirs(args.out, exist_ok=True)
    recs = a1_records(rng, args.n)
    now = time.time_ns()
    per_file = -(-args.n // args.files)
    for i in range(args.files):
        chunk = recs[i * per_file : (i + 1) * per_file]
        text = "".join(record_line(k, a, b, now) + "\n" for k, a, b in chunk)
        write_atomic(os.path.join(args.out, f"part-{i:05d}.jsonl"), text)


def gen_live(args: argparse.Namespace) -> None:
    """Open loop: record i is due at t0 + i / rate whatever the consumer
    does. Records due within one tick go out in one file at the tick's
    end; lateness is how far behind that deadline the rename landed."""
    rng = np.random.default_rng(args.seed)
    os.makedirs(args.out, exist_ok=True)
    n = int(round(RATE * args.seconds))
    recs = a1_records(rng, n)
    t0 = time.time_ns() + int(0.2e9)
    step = 1e9 / RATE
    tick_ns = int(TICK_S * 1e9)
    n_ticks = -(-args.seconds * 1e9 // tick_ns)
    lates = []
    i = 0
    for k in range(int(n_ticks)):
        deadline = t0 + (k + 1) * tick_ns
        lines = []
        while i < n and t0 + i * step < deadline:
            key, a, b = recs[i]
            lines.append(record_line(key, a, b, t0 + int(i * step)) + "\n")
            i += 1
        delay = (deadline - time.time_ns()) / 1e9
        if delay > 0:
            time.sleep(delay)
        if lines:
            write_atomic(os.path.join(args.out, f"part-{k:06d}.jsonl"), "".join(lines))
        lates.append(max(0.0, (time.time_ns() - deadline) / 1e9))
    summary = {
        "t0_ns": t0,
        "offered": i,
        "ticks": len(lates),
        "late_max_s": max(lates) if lates else 0.0,
        "late_p50_s": float(np.median(lates)) if lates else 0.0,
    }
    write_atomic(args.summary, json.dumps(summary))


def gen_corpus(args: argparse.Namespace) -> None:
    """Documents of Zipf-distributed words. A share ``DUP_FRAC`` of the
    documents are exact copies of an earlier original, and ``NEAR_FRAC``
    are copies with ``EDIT_FRAC`` of their words replaced; the planted
    pairs go to ``_truth.json``. At 2 % edits on 50-90-word documents a
    near-duplicate keeps word-3-gram Jaccard of about 0.85-0.89 with its
    source, above the 0.8 dedup threshold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(args.seed)
    os.makedirs(args.out, exist_ok=True)
    vocab = np.array([f"w{i}" for i in range(VOCAB)], dtype=object)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF
    p /= p.sum()
    n_dup = int(N_DOCS * DUP_FRAC)
    n_near = int(N_DOCS * NEAR_FRAC)
    n_orig = N_DOCS - n_dup - n_near
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_orig)
    words = rng.choice(VOCAB, size=int(lengths.sum()), p=p)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    docs = [words[bounds[i] : bounds[i + 1]] for i in range(n_orig)]
    planted = []
    sources = rng.choice(n_orig, size=n_dup + n_near, replace=False)
    for j, src in enumerate(sources):
        copy = docs[src].copy()
        kind = "exact"
        if j >= n_dup:
            kind = "near"
            n_edit = max(1, int(round(len(copy) * EDIT_FRAC)))
            pos = rng.choice(len(copy), size=n_edit, replace=False)
            # a replacement word that differs from the one it replaces
            copy[pos] = (copy[pos] + rng.integers(1, VOCAB, size=n_edit)) % VOCAB
        planted.append((len(docs), int(src), kind))
        docs.append(copy)
    # doc ids are a seeded shuffle, so copies are not always the larger id
    ids = rng.permutation(N_DOCS).astype(np.int64)
    texts = [" ".join(vocab[d]) for d in docs]
    order = np.argsort(ids)
    table = pa.table(
        {
            "doc_id": pa.array(ids[order]),
            "text": pa.array([texts[i] for i in order]),
        }
    )
    rows = -(-N_DOCS // FILES)
    for f in range(FILES):
        pq.write_table(table.slice(f * rows, rows), os.path.join(args.out, f"part-{f:05d}.parquet"))
    truth = [
        {"doc": int(ids[d]), "source": int(ids[s]), "kind": kind} for d, s, kind in planted
    ]
    write_atomic(os.path.join(args.out, "_truth.json"), json.dumps(truth))


def gen_embeddings(args: argparse.Namespace) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(args.seed)
    os.makedirs(args.out, exist_ok=True)
    centres = rng.normal(size=(CLUSTERS, DIM))
    label = rng.integers(0, CLUSTERS, size=N_VECTORS)
    x = (centres[label] + NOISE * rng.normal(size=(N_VECTORS, DIM))).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.reshape(-1)), DIM).cast(
        pa.list_(pa.float32())
    )
    table = pa.table({"vec_id": pa.array(np.arange(N_VECTORS, dtype=np.int64)), "embedding": emb})
    rows = -(-N_VECTORS // FILES)
    for f in range(FILES):
        pq.write_table(table.slice(f * rows, rows), os.path.join(args.out, f"part-{f:05d}.parquet"))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="kind", required=True)

    r = sub.add_parser("records")
    r.add_argument("--n", type=int, required=True)
    r.add_argument("--files", type=int, required=True)

    lv = sub.add_parser("live")
    lv.add_argument("--seconds", type=float, required=True)
    lv.add_argument("--summary", required=True)

    c = sub.add_parser("corpus")
    e = sub.add_parser("embeddings")

    for p in (r, lv, c, e):
        p.add_argument("--seed", type=int, required=True)
        p.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    {"records": gen_records, "live": gen_live, "corpus": gen_corpus, "embeddings": gen_embeddings}[
        args.kind
    ](args)


if __name__ == "__main__":
    main(sys.argv[1:])
