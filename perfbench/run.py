"""Benchmark of the fatespark index build and its Spark-free serving path.

    python3 perfbench/run.py --workload serve_head --seed 1 --seconds 6 --trace 0

Each run builds a fresh seeded pages index with ``IndexBuilder`` on
``local[nproc]`` (default ``BuildConfig``), lays down the serving copy with
``compact_local``, stops Spark, and for ``--seconds`` answers the workload's
seeded queries from ``LocalSearchIndex`` in a closed loop: one in-process
client that waits for each answer. Every distinct answer is checked against
``fatespark.oracle.BM25Oracle`` after the timed part.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it starts with
``info`` and carries what a reader needs to trust the numbers: the digest of
the distinct-op list, the tail percentile and sample count, host CPU steal
and ``failed_frac``. A traced run writes its spans to ``.perfbench_out/``.
Layer spans are recorded from outside the program (``spans.py``); nothing
in ``fatespark`` is modified.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the program from the checkout, then the benchmark's own modules; a
# checkout without the program fails here, before any work or output
sys.path[:0] = [ROOT, HERE]

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark import SparkContext  # noqa: E402

import fatespark.local as L  # noqa: E402
import fatespark.query as Q  # noqa: E402
import fatespark.wand as W  # noqa: E402
from fatespark.build import IndexBuilder  # noqa: E402
from fatespark.corpus import pages_pandas  # noqa: E402
from fatespark.oracle import BM25Oracle  # noqa: E402
from fatespark.session import get_spark  # noqa: E402

import layers  # noqa: E402
import queries  # noqa: E402
from spans import COUNTERS, Tracer, self_time_by_name  # noqa: E402

N_DOCS = 12_000
K = 10
# The highest percentile of (90, 95, 98, 99) that keeps at least 10 samples
# beyond it at the loop's minimum op count. Fixed, so that runs that
# complete different numbers of ops still report the same percentile.
TAIL_PCT = 95
MIN_OPS = 200
BUILD_WARMUP = 3     # untimed builds before the timed one
WARM_FILES = 2       # corpus files the first warm-up build reads
COMPACT_WARMUP = 1   # after the build's own compact_local
COMPACT_REPS = 3
CORPUS_FILES = 8     # parquet files the corpus is written as
CORPUS_SCHEMA = "url string, text string"
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

WORKLOADS = ("serve_head", "serve_tail")


def _uptime() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0])


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return _uptime() - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d[:8]))


def _median(xs) -> float:
    return float(statistics.median(xs))


def _pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs), q))


# -- Spark ------------------------------------------------------------------

def start_spark(nproc: int):
    """``fatespark.session.get_spark`` on local[nproc], with every scratch
    directory (Spark local dirs, JVM temp) inside the work directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    spark = get_spark(cpus=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> set[int]:
    """Every live descendant of ``pid``."""
    parent = {}
    for d in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(d) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        parent[int(d.split("/")[2])] = ppid
    out, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def stop_spark(spark):
    """Stop the session and close the JVM's stdin, which ends it. Returns a
    function that waits until the JVM and its Python workers have exited,
    so the exit can overlap untimed work."""
    gw = SparkContext._gateway
    proc = gw.proc
    kids = _children(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    SparkContext._gateway = SparkContext._jvm = None

    def wait():
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        left = set(kids)
        deadline = time.monotonic() + 30
        while left and time.monotonic() < deadline:
            left = {p for p in left if os.path.exists(f"/proc/{p}")}
            time.sleep(0.05)

    return wait


# -- build ------------------------------------------------------------------

def write_corpus(seed: int, path: str) -> None:
    """The seeded pages corpus as parquet files, so builds read storage
    rather than regenerating text inside the timed job."""
    os.makedirs(path, exist_ok=True)
    ids = np.arange(N_DOCS, dtype=np.uint64)
    for i, part in enumerate(np.array_split(ids, CORPUS_FILES)):
        pdf = pages_pandas(part, seed)[["url", "text"]]
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def build(spark, corpus, warm_corpus, index_dir: str) -> dict:
    """``BUILD_WARMUP`` untimed builds, the first of ``warm_corpus`` and
    the rest of ``corpus``, then one timed ``IndexBuilder.build`` of
    ``corpus``, each into a fresh directory, then ``compact_local`` for the
    serving copy. The session's first build runs 3x slower while the JVM
    compiles the job's code paths, and the next two builds of the full
    corpus still run 30 % and 10 % slower than later ones; a quarter of the
    corpus is enough for the first. Every build of ``corpus`` must report
    the same totals."""
    times, totals = [], []
    for i in range(BUILD_WARMUP + 1):
        shutil.rmtree(index_dir, ignore_errors=True)
        b = IndexBuilder(index_dir)
        t0 = time.perf_counter()
        got = b.build(spark, warm_corpus if i == 0 else corpus)
        times.append(time.perf_counter() - t0)
        totals.append({k: got[k] for k in ("docs", "postings", "bytes")})
    b.compact_local(spark)
    full = totals[1:]
    return {"dir": index_dir, "build_s": times[-1], "build_times_s": times,
            "totals": full[-1],
            "totals_agree": all(t == full[0] for t in full)}


def compact_s(spark, index_dir: str) -> float:
    """Median seconds of ``COMPACT_REPS`` timed ``compact_local`` calls
    after ``COMPACT_WARMUP`` untimed ones; each call rewrites the serving
    copy. The session's first calls run ~2x slower and keep speeding up
    while the JVM compiles the job's code paths."""
    b = IndexBuilder(index_dir)
    times = []
    for i in range(COMPACT_WARMUP + COMPACT_REPS):
        t0 = time.perf_counter()
        b.compact_local(spark)
        if i >= COMPACT_WARMUP:
            times.append(time.perf_counter() - t0)
    return _median(times)


# -- serving ----------------------------------------------------------------

def run_op(ix, op):
    """One serving call; returns the answer as plain comparable values."""
    if op.kind == "count":
        return ix.count(op.terms[0])
    if op.kind == "prefix":
        df = ix.search_prefix(op.terms[0], k=K)
    elif op.kind == "phrase":
        df = ix.search_phrase(" ".join(op.terms), k=K)
    else:
        mode, wand = queries.MODES[op.mode]
        df = ix.search(list(op.terms), k=K, mode=mode, use_wand=wand,
                       with_url=op.with_url)
    if df.empty:  # an empty result has no url column, even with_url
        return []
    cols = ["doc_id", "score"] + (["url"] if op.with_url else [])
    return list(zip(*(df[c].tolist() for c in cols)))


def expected(oracle, op, id2url):
    """The oracle's answer to ``op``, in ``run_op``'s shape."""
    if op.kind == "count":
        return oracle.count(op.terms[0])
    if op.kind == "prefix":
        return oracle.search_prefix(op.terms[0], k=K)
    if op.kind == "phrase":
        return oracle.search_phrase(" ".join(op.terms), k=K)
    got = oracle.search(list(op.terms), k=K, mode=queries.MODES[op.mode][0])
    if op.with_url:
        got = [(d, s, id2url[d]) for d, s in got]
    return got


class Loop:
    """Closed-loop client: visits the distinct ops in a seeded order, one
    at a time, and records each latency and whether the answer repeated
    the untimed first answer."""

    def __init__(self, ix, ops, order):
        self.ix, self.ops, self.order = ix, ops, order
        self.first = []
        self.errors = 0

    def _call(self, op):
        try:
            return run_op(self.ix, op)
        except Exception:  # a failed op is counted, not fatal
            if self.errors < 3:
                traceback.print_exc(file=sys.stderr)
            self.errors += 1
            return None

    def warm(self) -> None:
        self.first = [self._call(op) for op in self.ops]
        gc.collect()

    def run(self, seconds: float, min_ops: int, tracer=None) -> dict:
        lat, visited, done_at, bad = [], [], [], 0
        n = len(self.order)
        t_start = time.perf_counter()
        t_end = t_start + seconds
        while time.perf_counter() < t_end or len(lat) < min_ops:
            j = int(self.order[len(lat) % n])
            if tracer is not None:
                tracer.op = len(lat)
                root = tracer.begin("bench.op")
            t0 = time.perf_counter()
            got = self._call(self.ops[j])
            t1 = time.perf_counter()
            if tracer is not None:
                tracer.end(root)
            lat.append(t1 - t0)
            done_at.append(t1 - t_start)
            visited.append(j)
            bad += got is None or got != self.first[j]
        wall = time.perf_counter() - t_start
        return {"lat": lat, "visited": visited, "bad": bad, "wall": wall,
                "done_at": done_at}


def _per_second_p50(res: dict) -> list[float]:
    """Median latency of the ops finished in each second of the loop: shows
    whether the host's speed moved during the run."""
    by_s: dict[int, list[float]] = {}
    for t, x in zip(res["done_at"], res["lat"]):
        by_s.setdefault(int(t), []).append(x * 1e3)
    return [round(_median(v), 2) for _, v in sorted(by_s.items())]


def loop_metrics(res: dict) -> dict:
    lat_ms = [x * 1e3 for x in res["lat"]]
    return {"query_p50_ms": _median(lat_ms),
            "query_tail_ms": _pct(lat_ms, TAIL_PCT),
            "queries_per_s": len(lat_ms) / res["wall"]}


# -- tracing ----------------------------------------------------------------

def install_spans(tracer) -> None:
    """Wrap each layer boundary where its caller looks it up."""
    for m in ("search", "search_prefix", "search_phrase", "count"):
        tracer.wrap(L.LocalSearchIndex, m, "local.search")
    tracer.wrap(L.LocalSearchIndex, "term_stats", "local.term_stats")
    tracer.wrap(L.LocalSearchIndex, "urls_of", "local.urls_of")

    footers: dict[int, list] = {}

    def rg_sizes(ix):
        """(rows, {column: compressed bytes}) per span of an _RGIndex."""
        got = footers.get(id(ix))
        if got is None:
            sizes = []
            for fi, rg, _, _ in ix.spans:
                g = ix.files[fi].metadata.row_group(rg)
                sizes.append((g.num_rows, {
                    g.column(c).path_in_schema:
                        g.column(c).total_compressed_size
                    for c in range(g.num_columns)}))
            got = footers[id(ix)] = (ix, sizes)  # ix kept: ids stay unique
        return got[1]

    def count_rg(ix, hit, columns, out):
        sizes = rg_sizes(ix)
        for i, span in enumerate(ix.spans):
            if hit(span[2], span[3]):
                rows, cols = sizes[i]
                tracer.add("rg.row_groups", 1)
                tracer.add("rg.rows_read", rows)
                tracer.add("rg.bytes", sum(cols.get(c, 0) for c in columns))
        tracer.add("rg.rows_kept", len(out))

    def after_read(_, args, out):
        ix, keys, columns = args[0], args[1], args[2]
        count_rg(ix, lambda lo, hi: any(lo <= t <= hi for t in keys),
                 columns, out)

    def after_read_range(_, args, out):
        ix, lo_k, hi_k, columns = args[0], args[1], args[2], args[3]
        count_rg(ix, lambda mn, mx: mx >= lo_k and mn < hi_k, columns, out)

    tracer.wrap(L._RGIndex, "read", "local.rg_read", after=after_read)
    tracer.wrap(L._RGIndex, "read_range", "local.rg_read",
                after=after_read_range)

    def after_blocks(_, args, out):
        tracer.add("blocks.loaded", len(args[0]))  # rows = stored blocks

    tracer.wrap(L, "_term_blocks_from_pdf", "query.term_blocks",
                after=after_blocks)

    def before_decode_all(args):
        tb = args[0]
        if tb._all is None and tb.enc_docs is not None:
            tracer.add("blocks.decoded", len(tb.ns))
            tracer.add("postings.decoded", tb.total)

    def before_decode_blocks(args):
        tb, sel = args[0], args[1]
        # a full selection is handed to decode_all, which counts itself
        if sel.size != len(tb.ns) and tb.enc_docs is not None:
            tracer.add("blocks.decoded", int(sel.size))
            tracer.add("postings.decoded", int(tb.ns[sel].sum()))

    tracer.wrap(W.TermBlocks, "decode_all", "wand.decode",
                before=before_decode_all)
    tracer.wrap(W.TermBlocks, "decode_blocks", "wand.decode",
                before=before_decode_blocks)
    for k in ("score_exhaustive_or", "score_and", "score_bmw_or",
              "score_maxscore_or"):
        tracer.wrap(L, k, "wand.kernel")
    tracer.wrap(Q, "_decode_with_positions", "query.positions_decode")
    tracer.wrap(Q, "_variants_match_rows", "query.phrase_match")


def serve_layers(tracer, n_ops: int) -> dict:
    """Per-op means of the layers' self times and counters."""
    self_s = self_time_by_name(tracer.spans)
    c = tracer.counts

    def ms(name):
        return self_s.get(name, 0.0) * 1e3 / n_ops

    op_ms = sum(self_s.values()) * 1e3 / n_ops
    return {
        "local.search.self_ms": ms("local.search"),
        "local.term_stats.self_ms": ms("local.term_stats"),
        "local.rg_read.ms": ms("local.rg_read"),
        "local.rg_read.row_groups": c["rg.row_groups"] / n_ops,
        "local.rg_read.bytes": c["rg.bytes"] / n_ops,
        "local.rg_read.rows_kept_frac":
            c["rg.rows_kept"] / max(1, c["rg.rows_read"]),
        "local.urls_of.ms": ms("local.urls_of"),
        "query.term_blocks.ms": ms("query.term_blocks"),
        "wand.decode.ms": ms("wand.decode"),
        "wand.decode.postings": c["postings.decoded"] / n_ops,
        "wand.decode.blocks_frac":
            c["blocks.decoded"] / max(1, c["blocks.loaded"]),
        "wand.kernel.ms": ms("wand.kernel"),
        "query.positions_decode.ms": ms("query.positions_decode"),
        "query.phrase_match.ms": ms("query.phrase_match"),
        "trace.op_ms": op_ms,
        "trace.other_ms": ms("bench.op") + ms(COUNTERS),
    }


def build_layers(b: dict) -> dict:
    """Phase seconds from the build's manifest and bytes per posting by
    column from the footers of what it wrote."""
    ph = layers.manifest_phases(b["dir"])
    out = {"build.docs_s": ph["docs_secs"],
           "build.postings_s": ph["postings_secs"],
           "build.metrics_s": ph["metrics_secs"],
           "build.finalize_s": b["build_s"] - ph["secs"]}
    nb = layers.postings_bytes(b["dir"])
    postings = b["totals"]["postings"]
    for col in ("docs", "tfs", "dls", "poss", "other"):
        out[f"build.bytes_per_posting.{col}"] = nb[col] / postings
    return out


def oracle_check(ix, b: dict, ops, first, seed: int) -> tuple[set, bool]:
    """Distinct ops whose first answer differs from ``BM25Oracle``'s, and
    whether the index's corpus stats and totals match the oracle's."""
    docs = pq.read_table(os.path.join(b["dir"], "docs"),
                         columns=["doc_id", "url"]).to_pydict()
    url2id = dict(zip(docs["url"], docs["doc_id"]))
    id2url = dict(zip(docs["doc_id"], docs["url"]))
    pdf = pages_pandas(np.arange(N_DOCS, dtype=np.uint64), seed)
    oracle = BM25Oracle([(url2id[u], t)
                         for u, t in zip(pdf["url"], pdf["text"])])
    wrong = {j for j, op in enumerate(ops)
             if first[j] is None or first[j] != expected(oracle, op, id2url)}
    stats_ok = (
        (ix.n_docs, ix.avgdl) == (oracle.n_docs, oracle.avgdl)
        and b["totals_agree"]
        and b["totals"]["docs"] == N_DOCS
        and b["totals"]["postings"]
        == sum(len(p) for p in oracle.postings.values()))
    return wrong, stats_ok


# -- main -------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    cpu0 = _cpu_times()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    os.makedirs(OUT, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    layer_m: dict[str, float] = {}

    corpus_dir = os.path.join(WORK, "corpus")
    write_corpus(args.seed, corpus_dir)
    spark = start_spark(nproc)
    try:
        corpus = spark.read.schema(CORPUS_SCHEMA).parquet(corpus_dir)
        warm = spark.read.schema(CORPUS_SCHEMA).parquet(
            *sorted(glob.glob(os.path.join(corpus_dir, "*.parquet")))
            [:WARM_FILES])
        b = build(spark, corpus, warm, os.path.join(WORK, "index"))
        if args.trace:
            layer_m["build.compact_local_s"] = compact_s(spark, b["dir"])
            layer_m["session.udf_floor_s"] = layers.udf_floor_s(spark, corpus)
    finally:
        spark_exited = stop_spark(spark)
    try:  # the JVM exits while the untimed warm pass runs
        ix = L.LocalSearchIndex(b["dir"])
        ops = {"serve_head": queries.head_ops,
               "serve_tail": queries.tail_ops}[args.workload](args.seed)
        loop = Loop(ix, ops, queries.schedule(ops, args.seed))
        loop.warm()
    finally:
        spark_exited()
    setup_s = _process_age()

    if args.trace:  # no tail percentile here, so no minimum op count
        plain = loop.run(args.seconds / 2, 1)
        tracer = Tracer()
        install_spans(tracer)
        try:
            res = loop.run(args.seconds / 2, 1, tracer)
        finally:
            tracer.unwrap_all()
        tracer.write(os.path.join(
            OUT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        layer_m.update(serve_layers(tracer, len(res["lat"])))
        layer_m["trace.overhead_ms"] = (loop_metrics(res)["query_p50_ms"]
                                        - loop_metrics(plain)["query_p50_ms"])
        layer_m.update(build_layers(b))
        layer_m.update(layers.sample_layers())
        runs = [plain, res]
    else:
        res = loop.run(args.seconds, MIN_OPS)
        runs = [res]
    rss_peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    steal = _steal_pct(cpu0, _cpu_times())

    wrong, stats_ok = oracle_check(ix, b, ops, loop.first, args.seed)
    attempted = sum(len(r["lat"]) for r in runs)
    failed = sum(r["bad"] + sum(j in wrong for j in r["visited"])
                 for r in runs)
    if not stats_ok:  # an index with wrong corpus stats fails every op
        failed = attempted

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        values, wanted = layer_m, spec["per_layer"]
    else:
        values = {"setup_s": setup_s,
                  "build_docs_per_s": N_DOCS / b["build_s"],
                  "index_bytes_per_posting":
                      layers.postings_bytes(b["dir"])["disk"]
                      / b["totals"]["postings"],
                  **loop_metrics(res), "rss_peak_mb": rss_peak_mb}
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    info = {"workload": args.workload, "seed": args.seed,
            "ops_digest": queries.digest(ops), "distinct_ops": len(ops),
            "wrong_distinct_ops": len(wrong), "index_stats_ok": stats_ok,
            "failed_frac": failed / max(1, attempted),
            "tail_percentile": TAIL_PCT, "tail_n": len(res["lat"]),
            "cpu_steal_pct": steal, "nproc": nproc,
            "build_times_s": [round(x, 3) for x in b["build_times_s"]],
            "p50_ms_per_second": _per_second_p50(res)}
    print("info " + json.dumps(info), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
