"""The benchmark's workloads. Each drives the public entry points of one
group of modules on inputs that ``gen.py`` writes from the seed.

A workload provides:

- ``generate(generator)``: run the generator process for its inputs;
- ``stage(spark)``: make the generated inputs ready for the first timed
  operation;
- ``warm_up(ctx)``: run the timed path once untimed, so Python workers,
  code generation and the JIT are warm before timing starts (the first
  pass of a fresh session is the slowest by far);
- ``measure(ctx, seconds)``: the timed path, repeated or run for
  ``seconds``; returns a ``Window`` with what the end-to-end metrics need,
  having run the output checks outside the timed region;
- ``probes(ctx, w)``: traced runs only, after the window. A probe replays,
  off the timed path, a layer that a composite entry point calls
  internally (``lsh_verified_edges`` computes signatures and candidates,
  ``ivfadc_topk`` builds its index), so its cost can be split out.

Every call into a layer sits in a ``ctx.tracer.span`` named after the
layer, so a traced run attributes time and Spark jobs to it.
"""

from __future__ import annotations

import collections
import glob
import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyconnect_spark.config import SinkConfig, SourceConfig
from pyconnect_spark.functions import avro_codec
from pyconnect_spark.functions.avro import create_schema_from_record
from pyconnect_spark.operators import dedup, similarity
from pyconnect_spark.sources.io import read_json, read_parquet
from pyconnect_spark.streaming.sink import EpochFileSink
from pyconnect_spark.streaming.source import SparkSource

import gen
from spans import Tracer


# Untimed passes before a window. The first pass of a fresh session pays
# code generation and Python-worker start (dedup: 9-10 s against 5-6 s).
# With one warm pass, the first timed pass still ran 10-20 % slower than
# the second while the JIT compiled; the JIT keeps improving for several
# passes more (vector_search), which the run-time budget leaves in.
WARM_PASSES = 2
# A window runs at least this many timed passes, then more while its time
# lasts: with one pass the median is hostage to a single slow pass.
MIN_PASSES = 2


@dataclass
class Context:
    spark: SparkSession
    tracer: Tracer
    work: str  # this run's scratch directory inside the checkout
    cores: int


@dataclass
class Window:
    """What one measured window produced. Latencies are per item, in
    seconds; checks is a list of (name, passed)."""

    walls: list = field(default_factory=list)  # per timed operation
    items_per_op: list = field(default_factory=list)
    latencies: list = field(default_factory=list)
    offered: int = 0
    delivered_once: int = 0
    recall_num: float = 0.0
    recall_den: float = 0.0
    checks: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # per-layer counts and times
    progress: dict = field(default_factory=dict)  # query role -> progress dicts

    @property
    def items_per_s(self) -> float:
        return float(np.median([n / w for n, w in zip(self.items_per_op, self.walls)]))

    latency_bound: bool = False  # open loop: latency, not operation time, is the cost

    @property
    def overhead_base(self) -> float:
        """The number tracing overhead is measured against."""
        return float(np.median(self.latencies if self.latency_bound else self.walls))


@contextmanager
def probe(ctx: Context, out: dict, layer: str) -> Iterator[None]:
    """Time one probe as a span and store its seconds as ``<layer>_s``."""
    with ctx.tracer.span(layer, kind="probe"):
        t0 = time.perf_counter()
        yield
        out[layer + "_s"] = time.perf_counter() - t0


def noop_write(df: DataFrame) -> None:
    """Materialise every column. ``count()`` is not enough: Spark prunes
    columns nothing reads, e.g. the ``signature`` of minhash_signatures."""
    df.write.format("noop").mode("overwrite").save()


def _multiset_checks(w: Window, offered: list, delivered: list, label: str) -> None:
    """Exactly-once delivery: the delivered multiset of (key, a, b) equals
    the offered one."""
    want = collections.Counter(offered)
    got = collections.Counter(delivered)
    w.offered += len(offered)
    w.delivered_once += sum(m for t, m in want.items() if got.get(t) == m)
    w.recall_num += sum(min(m, got.get(t, 0)) for t, m in want.items())
    w.recall_den += len(offered)
    w.checks.append((f"{label}:multiset_equal", got == want))


# ---------------------------------------------------------------------------
# stream_live: SparkSource -> to_avro_py -> binary topic -> from_avro_py -> EpochFileSink
# ---------------------------------------------------------------------------
KEY_SCHEMA = create_schema_from_record("key", "AAAAAAAA")
VALUE_SCHEMA = create_schema_from_record("value", {"a": "A", "b": 0, "created_ns": 0})
VALUE_TYPE = "struct<a:string,b:bigint,created_ns:bigint>"
INPUT_SCHEMA = f"key string, value {VALUE_TYPE}"
TOPIC_SCHEMA = "key binary, value binary"
KEY_SCHEMA_ID, VALUE_SCHEMA_ID = 1, 2
DURATION_KEYS = {
    "trigger_ms_p50": "triggerExecution",
    "latest_offset_ms_p50": "latestOffset",
    "planning_ms_p50": "queryPlanning",
    "add_batch_ms_p50": "addBatch",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
}


class AvroProducer(SparkSource):
    """Produce side: JSON-lines records -> Confluent-framed Avro key/value
    in a file topic (the binary column shape of a Kafka topic)."""

    def transform(self, df: DataFrame) -> DataFrame:
        return df.select(
            avro_codec.to_avro_py(F.col("key"), KEY_SCHEMA, schema_id=KEY_SCHEMA_ID).alias("key"),
            avro_codec.to_avro_py(F.col("value"), VALUE_SCHEMA, schema_id=VALUE_SCHEMA_ID).alias("value"),
        )


class AvroEpochSink(EpochFileSink):
    """Consume side: decode the Avro topic, flush each micro-batch as an
    exactly-once epoch file. Records when each epoch was promoted."""

    def __init__(self, *args, tracer: Tracer, parent_span: str | None, **kw):
        super().__init__(*args, **kw)
        self.tracer = tracer
        self.parent_span = parent_span
        self.flushes: list[tuple[int, int, int, int]] = []  # epoch, start, end (perf ns), promote wall ns
        self._lock = threading.Lock()

    def transform(self, df: DataFrame) -> DataFrame:
        return df.select(
            avro_codec.from_avro_py(F.col("key"), KEY_SCHEMA, "string", confluent_framed=True).alias("key"),
            avro_codec.from_avro_py(
                F.col("value"), VALUE_SCHEMA, VALUE_TYPE, confluent_framed=True
            ).alias("value"),
        )

    def on_flush(self, batch: DataFrame, epoch_id: int) -> None:
        start = time.perf_counter_ns()
        super().on_flush(batch, epoch_id)
        end = time.perf_counter_ns()
        with self._lock:
            self.flushes.append((epoch_id, start, end, time.time_ns()))
        self.tracer.record("streaming.sink.flush", start, end, parent=self.parent_span, epoch=epoch_id)


def read_records(path_glob: str) -> list[dict]:
    rows = []
    for path in sorted(glob.glob(path_glob)):
        with open(path) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def read_epochs(out_dir: str) -> list[tuple[int, dict]]:
    """(epoch id, record) for every record the sink promoted."""
    rows = []
    for d in sorted(glob.glob(os.path.join(out_dir, "epoch-*.jsonl"))):
        epoch = int(os.path.basename(d)[len("epoch-") : -len(".jsonl")])
        rows.extend((epoch, r) for r in read_records(os.path.join(d, "part-*")))
    return rows


def triple(r: dict) -> tuple:
    return (r["key"], r["value"]["a"], r["value"]["b"])


def progress_dicts(query) -> list[dict]:
    return [
        {"numInputRows": p.numInputRows, "durationMs": dict(p.durationMs)}
        for p in query.recentProgress
    ]


def stream_layer_metrics(w: Window) -> dict:
    out = {}
    for role in ("produce", "consume"):
        data = [p for p in w.progress.get(role, []) if p["numInputRows"] > 0]
        out[f"streaming.{role}.batches"] = len(data)
        out[f"streaming.{role}.rows_per_batch"] = (
            float(np.mean([p["numInputRows"] for p in data])) if data else 0.0
        )
        for name, key in DURATION_KEYS.items():
            vals = [p["durationMs"].get(key, 0) for p in data]
            out[f"streaming.{role}.{name}"] = float(np.median(vals)) if vals else 0.0
    return out


def backlog_max(offered_ns: list[int], promoted: list[tuple[int, int]], since_ns: int) -> int:
    """Largest count of offered-but-undelivered records at any instant
    from ``since_ns`` on; ``promoted`` is (promote wall ns, records)."""
    events = [(t, 1) for t in offered_ns] + [(t, -n) for t, n in promoted]
    events.sort(key=lambda e: (e[0], e[1] > 0))
    level = peak = 0
    for t, d in events:
        level += d
        if t >= since_ns:
            peak = max(peak, level)
    return peak


class StreamLive:
    """Open loop: the generator process drops a file of due records every
    tick at ``gen.RATE`` records/s, far below what the queries can drain;
    both queries run continuously. Latency is per record, from when it was
    due to when its epoch was promoted; the first ``warm_s`` seconds are
    warm-up, and the window after them lasts at least ``min_window_s``."""

    name = "stream_live"
    n_prewarm = 2000
    # Without the pre-warm batch, latency fell for the first ~10 s of a
    # fresh session (Python workers start, the JIT compiles the per-batch
    # paths): 5.5 s p50 in the first 2 s, 2.5-3.3 s from 10 s on. After it,
    # 2 s buckets of a 30 s window read 2.7 s p50 in the first (the
    # queries start idle), then wander between 2.9 and 3.5 s with no trend.
    warm_s = 2.0
    # A consume epoch lasts about 1.5 s, so a window holds few of them,
    # and its p50 follows that wander: over 6 s, p50 spread (IQR/median)
    # over ten seeds was 0.17-0.18. A window runs at least this long.
    min_window_s = 12.0
    tail_timeout_s = 30.0

    def __init__(self, inputs: str):
        self.prewarm_dir = os.path.join(inputs, "prewarm")
        self.generator = None

    def generate(self, generator) -> None:
        generator("records", self.prewarm_dir, "--n", self.n_prewarm, "--files", 4)
        # the live generator starts at measure time; remember how to call it
        self.generator = generator

    def _await_delivered(self, sink: AvroEpochSink, n: int) -> None:
        """Wait until the sink query has consumed ``n`` rows, at most
        ``tail_timeout_s``; the multiset check reports any shortfall."""
        deadline = time.perf_counter() + self.tail_timeout_s
        while time.perf_counter() < deadline:
            if sum(p.numInputRows for p in sink._query.recentProgress) >= n:
                return
            time.sleep(0.1)

    def stage(self, spark: SparkSession) -> None:
        pass

    def warm_up(self, ctx: Context) -> None:
        pass  # the first warm_s seconds of every window are the warm-up

    def measure(self, ctx: Context, seconds: float) -> Window:
        seconds = max(seconds, self.min_window_s)
        root = os.path.join(ctx.work, "live")
        input_dir = os.path.join(root, "in")
        os.makedirs(input_dir)
        summary_path = os.path.join(root, "gen-summary.json")
        w = Window(latency_bound=True)
        with ctx.tracer.span("iteration"):
            # both queries run for the whole window, side by side: their
            # spans are recorded once both stop
            parent, consume_id = ctx.tracer.current(), ctx.tracer.new_id()
            start = time.perf_counter_ns()
            src = self._producer(ctx, root, input_dir)
            sink = self._sink(ctx, root, parent=consume_id)
            os.makedirs(os.path.join(root, "topic"))  # the sink lists it before the first produce
            threads = [threading.Thread(target=c.run, daemon=True) for c in (src, sink)]
            for t in threads:
                t.start()
            while src._query is None or sink._query is None:
                if not all(t.is_alive() for t in threads):
                    for c in (src, sink):
                        c.stop()
                    raise RuntimeError(f"a live connector failed to start: {src.status_info or sink.status_info}")
                time.sleep(0.05)
            # a staged batch through both queries first, so Python workers
            # run and first-batch code is compiled before the open loop
            # starts; each file is complete, so a rename is atomic
            for name in sorted(os.listdir(self.prewarm_dir)):
                os.rename(os.path.join(self.prewarm_dir, name), os.path.join(input_dir, name))
            self._await_delivered(sink, self.n_prewarm)
            proc = self.generator(
                "live", input_dir, "--seconds", self.warm_s + seconds,
                "--summary", summary_path, background=True,
            )
            try:
                proc.wait(timeout=self.warm_s + seconds + 30)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
            with open(summary_path) as f:
                summary = json.load(f)
            self._await_delivered(sink, self.n_prewarm + summary["offered"])
            w.progress["produce"] = progress_dicts(src._query)
            w.progress["consume"] = progress_dicts(sink._query)
            for c in (src, sink):
                c.stop()
            for t in threads:
                t.join(timeout=60)
            end = time.perf_counter_ns()
            ctx.tracer.record("streaming.produce", start, end, parent=parent, query_run_id=str(src._query.runId))
            ctx.tracer.record(
                "streaming.consume", start, end, parent=parent, sid=consume_id, query_run_id=str(sink._query.runId)
            )
        offered = read_records(os.path.join(input_dir, "*.jsonl"))
        rows = read_epochs(os.path.join(root, "out"))
        promote = {e: wall_ns for e, _, _, wall_ns in sink.flushes}
        lo = summary["t0_ns"] + int(self.warm_s * 1e9)
        hi = lo + int(seconds * 1e9)
        in_window = [(promote[e], r["value"]["created_ns"]) for e, r in rows if lo <= r["value"]["created_ns"] < hi]
        w.latencies = [(done - due) / 1e9 for done, due in in_window]
        # items/s over the window: from the first measured record being
        # due to the promote of the last one
        w.walls = [(max(done for done, _ in in_window) - lo) / 1e9]
        w.items_per_op = [len(in_window)]
        _multiset_checks(w, [triple(r) for r in offered], [triple(r) for _, r in rows], "live")
        w.layer["streaming.backlog_records_max"] = backlog_max(
            [r["value"]["created_ns"] for r in offered],
            [(promote[e], n) for e, n in collections.Counter(e for e, _ in rows).items()],
            since_ns=lo,
        )
        w.layer.update(stream_layer_metrics(w))
        w.layer["streaming.sink.flush_s"] = sum((e - s) / 1e9 for _, s, e, _ in sink.flushes)
        w.layer["streaming.sink.flushes"] = len(sink.flushes)
        w.layer["generator.late_max_s"] = summary["late_max_s"]
        self.last_input = input_dir
        self.last_offered = offered
        return w

    def _producer(self, ctx: Context, root: str, input_dir: str) -> AvroProducer:
        return AvroProducer(
            ctx.spark,
            SourceConfig(
                bootstrap_servers="localhost:9092",
                topic=os.path.join(root, "topic"),
                checkpoint_location=os.path.join(root, "ck-produce"),
            ),
            input_dir=input_dir,
            schema=INPUT_SCHEMA,
            stop_at_end=False,
        )

    def _sink(self, ctx: Context, root: str, parent: str | None) -> AvroEpochSink:
        return AvroEpochSink(
            ctx.spark,
            SinkConfig(
                bootstrap_servers="localhost:9092",
                topics=[os.path.join(root, "topic")],
                checkpoint_location=os.path.join(root, "ck-consume"),
            ),
            schema=TOPIC_SCHEMA,
            stop_at_end=False,
            out_dir=os.path.join(root, "out"),
            tracer=ctx.tracer,
            parent_span=parent,
        )

    def probes(self, ctx: Context, w: Window) -> dict:
        """The staged-input scan, and the codec the UDFs run applied to up
        to 20 000 offered records in this process (pure codec time)."""
        out = {}
        with probe(ctx, out, "sources.scan"):
            noop_write(read_json(ctx.spark, self.last_input, INPUT_SCHEMA))
        sample = self.last_offered[:20_000]
        kh = bytes([0]) + KEY_SCHEMA_ID.to_bytes(4, "big")
        vh = bytes([0]) + VALUE_SCHEMA_ID.to_bytes(4, "big")
        with probe(ctx, out, "avro_codec.encode"):
            enc = [
                (kh + avro_codec.encode(r["key"], KEY_SCHEMA), vh + avro_codec.encode(r["value"], VALUE_SCHEMA))
                for r in sample
            ]
        with probe(ctx, out, "avro_codec.decode"):
            dec = [(avro_codec.decode(k[5:], KEY_SCHEMA), avro_codec.decode(v[5:], VALUE_SCHEMA)) for k, v in enc]
        w.checks.append(("codec:decode_encode_roundtrip", dec == [(r["key"], r["value"]) for r in sample]))
        out["avro_codec.encode_records_per_s"] = len(sample) / out["avro_codec.encode_s"]
        return out


# ---------------------------------------------------------------------------
# dedup_batch: lsh_verified_edges -> connected_components -> keep set
# ---------------------------------------------------------------------------
def word_shingles(text: str, n: int = 3) -> set:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - (n - 1), 1))}


class DedupBatch:
    """The near-dup clustering chain of the LLM-curation path
    (operators.dedup): LSH-verified word-3-gram Jaccard edges, connected
    components, one kept document per component. No streaming, no Avro."""

    name = "dedup_batch"
    threshold = 0.8

    def __init__(self, inputs: str):
        self.input_dir = os.path.join(inputs, "corpus")

    def generate(self, generator) -> None:
        generator("corpus", self.input_dir)

    def stage(self, spark: SparkSession) -> None:
        if read_parquet(spark, self.input_dir).count() != gen.N_DOCS:
            raise RuntimeError("staged corpus has the wrong row count")

    def _chain(self, ctx: Context, path: str) -> tuple:
        docs = read_parquet(ctx.spark, path)
        with ctx.tracer.span("dedup.verify") as a:
            edges_df = dedup.lsh_verified_edges(docs, self.threshold).localCheckpoint(eager=True)
            edges = [(r.a, r.b) for r in edges_df.collect()]
            a["verified_edges"] = len(edges)
        with ctx.tracer.span("dedup.components"):
            nodes = docs.select(F.col("doc_id").alias("node"))
            rows = dedup.connected_components(nodes, edges_df).collect()
        keep = {r.node for r in rows if r.node == r.root}
        return edges, rows, keep

    def warm_up(self, ctx: Context) -> None:
        for _ in range(WARM_PASSES):
            self._chain(ctx, self.input_dir)

    def _load_truth(self) -> None:
        if hasattr(self, "texts"):
            return
        import pyarrow.parquet as pq

        t = pq.read_table(self.input_dir).to_pydict()
        self.texts = dict(zip(t["doc_id"], t["text"]))
        with open(os.path.join(self.input_dir, "_truth.json")) as f:
            self.truth = json.load(f)
        self._sh = {}

    def _jaccard(self, a: int, b: int) -> float:
        for d in (a, b):
            if d not in self._sh:
                self._sh[d] = word_shingles(self.texts[d])
        x, y = self._sh[a], self._sh[b]
        return len(x & y) / len(x | y)

    def measure(self, ctx: Context, seconds: float) -> Window:
        self._load_truth()
        w = Window()
        t_end = time.perf_counter() + seconds
        while len(w.walls) < MIN_PASSES or time.perf_counter() < t_end:
            with ctx.tracer.span("iteration"):
                t0 = time.perf_counter()
                edges, rows, keep = self._chain(ctx, self.input_dir)
                wall = time.perf_counter() - t0
            w.walls.append(wall)
            w.items_per_op.append(gen.N_DOCS)
            w.latencies.extend([wall] * gen.N_DOCS)
            k = len(w.walls)
            # a node listed twice would vanish in the dict, so count rows
            per_node = collections.Counter(r.node for r in rows)
            once = sum(per_node.get(d) == 1 for d in self.texts)
            roots = {r.node: r.root for r in rows}
            w.checks.append((f"it{k}:edges_jaccard_ge_threshold", all(self._jaccard(a, b) >= self.threshold for a, b in edges)))
            w.checks.append((f"it{k}:one_root_per_doc", once == len(self.texts) == len(per_node)))
            w.checks.append((f"it{k}:edge_ends_share_root", all(a in roots and roots[a] == roots.get(b) for a, b in edges)))
            w.checks.append((f"it{k}:root_is_component_min", all(roots.get(r) == r and r <= n for n, r in roots.items())))
            same = lambda p: p["doc"] in roots and roots[p["doc"]] == roots.get(p["source"])
            exact = [p for p in self.truth if p["kind"] == "exact"]
            w.checks.append((f"it{k}:exact_dups_clustered", all(same(p) for p in exact)))
            near = [p for p in self.truth if p["kind"] == "near"]
            w.recall_num += sum(same(p) for p in near)
            w.recall_den += len(near)
            w.offered += gen.N_DOCS
            w.delivered_once += once
            w.layer["dedup.verified_edges"] = len(edges)
            w.layer["dedup.kept_docs"] = len(keep)
        return w

    def probes(self, ctx: Context, w: Window) -> dict:
        docs = read_parquet(ctx.spark, self.input_dir)
        out = {}
        with probe(ctx, out, "sources.scan"):
            noop_write(docs)
        with probe(ctx, out, "dedup.minhash"):
            sig = dedup.minhash_signatures(docs).localCheckpoint(eager=True)
        with probe(ctx, out, "dedup.candidates"):
            cand = dedup.lsh_candidate_pairs(sig).localCheckpoint(eager=True)
        out["dedup.candidate_pairs"] = cand.count()
        return out


# ---------------------------------------------------------------------------
# vector_search: ivfadc_topk over clustered embeddings
# ---------------------------------------------------------------------------
class VectorSearch:
    """ANN index build plus probe (operators.similarity.ivfadc_topk): many
    queries, k = 10, checked against numpy brute-force cosine."""

    name = "vector_search"
    n_queries = 64
    k = 10
    n_probe = 8

    def __init__(self, inputs: str):
        self.input_dir = os.path.join(inputs, "embeddings")

    def generate(self, generator) -> None:
        generator("embeddings", self.input_dir)

    def stage(self, spark: SparkSession) -> None:
        if read_parquet(spark, self.input_dir).count() != gen.N_VECTORS:
            raise RuntimeError("staged embeddings have the wrong row count")

    def _search(self, ctx: Context) -> list:
        emb = read_parquet(ctx.spark, self.input_dir)
        with ctx.tracer.span("similarity.search"):
            return similarity.ivfadc_topk(
                emb, math.ceil(math.sqrt(gen.N_VECTORS)), n_probe=self.n_probe, k=self.k, n_queries=self.n_queries
            ).collect()

    def warm_up(self, ctx: Context) -> None:
        for _ in range(WARM_PASSES):
            self._search(ctx)

    def _load_truth(self) -> None:
        if hasattr(self, "x"):
            return
        import pyarrow.parquet as pq

        t = pq.read_table(self.input_dir)
        ids = t.column("vec_id").to_numpy()
        x = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        self.x = x[np.argsort(ids)]
        unit = self.x / np.linalg.norm(self.x, axis=1, keepdims=True)
        self.cos = unit[: self.n_queries] @ unit.T
        self.cos[np.arange(self.n_queries), np.arange(self.n_queries)] = -np.inf  # a query is not its own neighbour
        self.true_topk = [set(np.argsort(-row, kind="stable")[: self.k].tolist()) for row in self.cos]

    def measure(self, ctx: Context, seconds: float) -> Window:
        self._load_truth()
        w = Window()
        t_end = time.perf_counter() + seconds
        while len(w.walls) < MIN_PASSES or time.perf_counter() < t_end:
            with ctx.tracer.span("iteration"):
                t0 = time.perf_counter()
                rows = self._search(ctx)
                wall = time.perf_counter() - t0
            w.walls.append(wall)
            w.items_per_op.append(self.n_queries)
            w.latencies.extend([wall] * self.n_queries)
            got = collections.defaultdict(list)
            for r in rows:
                got[r.q_id].append(r)
            k = len(w.walls)
            full = [q for q in range(self.n_queries) if len(got[q]) == self.k]
            w.checks.append((f"it{k}:k_results_per_query", len(full) == self.n_queries))
            w.checks.append((
                f"it{k}:scores_match_numpy_cosine",
                all(abs(r.cos_sim - self.cos[r.q_id, r.vec_id]) <= 1e-6 for r in rows),
            ))
            ranked = [sorted(got[q], key=lambda r: r.rk) for q in got]
            w.checks.append((f"it{k}:ranks_ordered", all(
                [r.rk for r in rs] == list(range(1, len(rs) + 1))
                and all(x.cos_sim >= y.cos_sim for x, y in zip(rs, rs[1:]))
                for rs in ranked
            )))
            w.offered += self.n_queries
            w.delivered_once += len(full)
            w.recall_num += sum(len({r.vec_id for r in got[q]} & self.true_topk[q]) for q in range(self.n_queries))
            w.recall_den += self.n_queries * self.k
        return w

    def probes(self, ctx: Context, w: Window) -> dict:
        emb = read_parquet(ctx.spark, self.input_dir)
        n_cells = math.ceil(math.sqrt(gen.N_VECTORS))
        out = {}
        with probe(ctx, out, "sources.scan"):
            noop_write(emb)
        with probe(ctx, out, "similarity.ivf_build"):
            seeds = similarity.ivf_seed_frame(emb, n_cells).localCheckpoint(eager=True)
            noop_write(similarity.seed_ivf_cells_frame(emb, n_cells, seeds=seeds))
        with probe(ctx, out, "similarity.pq_train"):
            cb = similarity.pq_codebook(emb, salt=":pq").localCheckpoint(eager=True)
        with probe(ctx, out, "similarity.pq_encode"):
            noop_write(similarity.pq_best_codes(emb, salt=":pq", cb=cb))
        return out


WORKLOADS = {w.name: w for w in (StreamLive, DedupBatch, VectorSearch)}
