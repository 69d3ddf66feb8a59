"""Benchmark for the spark-graft engine: three seeded workloads, one command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/NOTES.md for why each is here and what was
left out to fit the run budget):

- ``lake_queries``: oracle-checked relational and profiling registry
  analytics, then ``plans.docs_pipeline.run_pipeline``.
- ``index_lifecycle``: related-items, IVFPQ and BM25 indexes under
  copy-on-write roots; seeded merges, a compact + vacuum and
  oracle-checked serves.

Inputs come from ``perfbench/gen.py`` (numpy/pyarrow only) and every
output is checked against a DuckDB SQL twin, outside the timed calls.
All files go under ``.bench_build/perfbench`` in the checkout and are
removed at exit. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones rolled up from spans and the Spark event log.

Exits with code 2, printing no result, when the engine package is not
next to this directory.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import io
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: input scale factor per workload (perfbench/gen.py row counts)
SCALE = {"lake_queries": 0.01, "index_lifecycle": 0.02}
#: seconds of one lake_queries pass on a 4-core host; --seconds / this
#: is the number of whole passes a run times (at least one).
#: index_lifecycle always times one cycle: its merges consume the pools.
LAKE_PASS_S = 25.0

LAKE_OPS = (
    "q01_pricing_summary q04_join_composite q07_latest_order_per_customer "
    "q12_flagship_enrichment q19_time_dimension q37_rollup_revenue q51_running_total "
    "q60_segment_top_orders q103_local_supplier_volume q123_cohort_retention "
    "q15_profile_columns q43_percentiles"
).split()
LAKE_TABLES = "region nation customer supplier part orders lineitem events documents".split()


# --- host and process facts --------------------------------------------------


def _proc_start_time() -> float:
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/stat") as f:
        btime = next(int(x.split()[1]) for x in f if x.startswith("btime"))
    return btime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(x.split()[1]) for x in f if x.startswith("MemTotal"))


def _git_commit() -> str:
    """HEAD's commit, read from .git without running git."""

    def read(name: str) -> str | None:
        path = os.path.join(ROOT, ".git", name)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read()

    head = read("HEAD")
    if head is None:
        return "none (not a git checkout)"
    if not head.startswith("ref: "):
        return head.strip()
    ref = head[5:].strip()
    loose = read(ref)
    if loose is not None:
        return loose.strip()
    for line in (read("packed-refs") or "").splitlines():
        if line.endswith(" " + ref):
            return line.split()[0]
    return "unknown"


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "data_lake_with_spark_spark")
    for path in sorted(glob.glob(f"{pkg}/**/*.py", recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak RSS of this process and all its descendants (JVM, Python
    workers), sampled from /proc."""

    def __init__(self, period: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_bytes = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()


def tree_bytes(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.stat(p).st_size
            except OSError:
                pass
    return out


def tail_percentile(samples: list[float], p: float) -> tuple[float | None, float]:
    """The ``p`` quantile (nearest rank) when at least ten samples lie
    beyond it; otherwise the highest quantile that has ten beyond it.
    Returns ``(value, quantile used)``; value is None when no quantile
    has ten samples beyond it (ten samples or fewer)."""
    n = len(samples)
    if n <= 10:
        return None, p
    q = min(p, (n - 10) / n)
    return sorted(samples)[max(1, math.ceil(q * n)) - 1], q


# --- the run -----------------------------------------------------------------


class Run:
    """State shared by the workloads: session, inputs, tracer, results."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.data = os.path.join(work, "data")
        self.failures: list[str] = []
        self.attempted = 0
        self.samples: list[tuple[str, str, float]] = []  # (op, kind, seconds)
        self.op_roots: set[int] = set()
        self.spark = None
        self.tracer = None
        self.con = None
        self.extra: dict[str, tuple[float, str, str]] = {}  # report-only metrics
        self.overhead_pairs: list[tuple[float, float]] = []  # (untraced, traced)
        self.cow_bytes = 0
        self.cow_files = 0
        self.build_s = 0.0

    # a timed call; in trace mode a ``repeatable`` op also runs once
    # untraced (alternately before and after the traced call, so warm-up
    # favours neither) and the pair feeds trace.overhead
    def timed(self, name: str, kind: str, fn, repeatable: bool = True):
        from data_lake_with_spark_spark.session import clear_persistent_rdds

        def untraced() -> float:
            clear_persistent_rdds(self.spark)
            self.tracer.enabled = False
            t0 = time.perf_counter()
            try:
                fn()
            finally:
                self.tracer.enabled = True
            return time.perf_counter() - t0

        twin = self.args.trace and repeatable
        before = twin and len(self.overhead_pairs) % 2 == 0
        if before:
            plain = untraced()
        clear_persistent_rdds(self.spark)
        t0 = time.perf_counter()
        with self.tracer.span(f"op.{name}", "op") as root:
            result = fn()
        dt = time.perf_counter() - t0
        if root is not None:
            self.op_roots.add(root["id"])
        if twin:
            self.overhead_pairs.append((plain if before else untraced(), dt))
        self.samples.append((name, kind, dt))
        return result

    def fail(self, what: str) -> None:
        """Record a failed op or a mismatch; an engine error's traceback
        goes to stderr."""
        self.failures.append(what)
        print(f"FAIL  {what}", flush=True)
        if sys.exc_info()[0] is not None:
            traceback.print_exc()


def _registry_op(run: Run, registry, name: str):
    def go():
        with run.tracer.span("queries.plan", "queries"):
            df = registry[name](run.spark, run.data)
        return df.columns, [tuple(r) for r in df.collect()]

    return go


def _check_registry(run: Run, name: str, cols, rows, oracles) -> None:
    from perfbench.check import compare, run_sql

    want_cols, want_rows = run_sql(run.con, oracles[name])
    problem = compare(list(cols), rows, want_cols, want_rows)
    if problem:
        run.fail(f"{name}: {problem}")


def _registry_pass(run: Run, ops, registry, oracles, check: bool) -> None:
    for name in ops:
        run.attempted += 1
        try:
            cols, rows = run.timed(name, "op", _registry_op(run, registry, name))
        except Exception as e:  # noqa: BLE001
            run.fail(f"{name}: engine error: {str(e)[:300]}")
            continue
        if check:
            _check_registry(run, name, cols, rows, oracles)


# --- lake_queries ------------------------------------------------------------


def setup_tables(run: Run, tables) -> dict:
    from data_lake_with_spark_spark.sources.catalog import load_table

    with run.tracer.span("setup.load", "setup"):
        return {t: load_table(run.spark, run.data, t) for t in tables}


def _check_pipeline(run: Run, out: str) -> None:
    """run_pipeline's written outputs against twins over the same files:
    survivors are unchanged input rows that pass O_Q29's quality floor;
    chunks and packs equal O_Q87/O_Q88 derived over the survivors."""
    from data_lake_with_spark_spark import queries as Q
    from perfbench.check import compare, derive, run_sql

    con = run.con
    for part in ("survivors", "chunks", "packed"):
        con.execute(
            f"CREATE OR REPLACE VIEW {part} AS SELECT * FROM '{out}/{part}/*.parquet'"
        )
    (bad,) = con.execute(
        f"""SELECT (SELECT COUNT(*) FROM survivors)
                   - (SELECT COUNT(*) FROM survivors JOIN documents USING
                        (doc_id, text, lang, source, n_chars))
                 + (SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM survivors)
                 + (SELECT COUNT(*) FROM survivors WHERE doc_id NOT IN
                        (SELECT doc_id FROM ({Q.O_Q29}) WHERE quality >= 0.35))"""
    ).fetchone()
    (n_surv,) = con.execute("SELECT COUNT(*) FROM survivors").fetchone()
    if bad or not n_surv:
        run.fail(f"run_pipeline: survivors: {bad} rows not kept input rows over the floor")
    chunk_sql = derive(
        derive(
            derive(Q.O_Q87, "SELECT doc_id, string_split_regex", "SELECT doc_id, lang, string_split_regex"),
            "FROM documents)",
            "FROM survivors)",
        ),
        "SELECT doc_id,\n",
        "SELECT doc_id, lang,\n",
    )
    # O_Q87 is 64-token windows with stride 56; the pipeline's are 128/112
    if chunk_sql.count("s.start + 63") != 2:
        raise AssertionError("O_Q87 window anchor changed")
    chunk_sql = derive(chunk_sql.replace("s.start + 63", "s.start + 127"), ", 56)", ", 112)")
    got = run_sql(con, "SELECT * FROM chunks")
    problem = compare(*got, *run_sql(con, chunk_sql))
    if problem:
        run.fail(f"run_pipeline: chunks: {problem}")
    con.execute(
        "CREATE OR REPLACE VIEW chunks_lang AS SELECT *, "
        "CAST(doc_id * 1000000 + chunk_id AS BIGINT) AS chunk_uid FROM chunks"
    )
    pack_sql = Q.O_Q88
    for a, b in (
        ("SELECT lang, doc_id,\n", "SELECT lang, chunk_uid,\n"),
        ("trim(text)", "trim(chunk_text)"),
        ("FROM documents)", "FROM chunks_lang)"),
        ("SELECT lang, doc_id, CAST", "SELECT lang, chunk_uid, CAST"),
        ("ORDER BY doc_id", "ORDER BY chunk_uid"),
    ):
        pack_sql = derive(pack_sql, a, b)
    problem = compare(*run_sql(con, "SELECT * FROM packed"), *run_sql(con, pack_sql))
    if problem:
        run.fail(f"run_pipeline: packed: {problem}")


def lake_queries(run: Run, registry, oracles, passes: int, docs) -> None:
    """The registry analytics, then the curation pipeline over the
    documents table; outputs of the first pass are checked."""
    from data_lake_with_spark_spark.plans.docs_pipeline import run_pipeline

    for i in range(passes):
        _registry_pass(run, LAKE_OPS, registry, oracles, check=(i == 0))
        out = os.path.join(run.work, f"pipeline-{i}")
        run.attempted += 1
        try:
            run.timed("run_pipeline", "op", lambda: run_pipeline(run.spark, docs, out), repeatable=False)
        except Exception as e:  # noqa: BLE001
            run.fail(f"run_pipeline: engine error: {str(e)[:300]}")
        else:
            if i == 0:
                _check_pipeline(run, out)
        shutil.rmtree(out, ignore_errors=True)


# --- index_lifecycle -----------------------------------------------------------

#: per family: source table and id column
INDEX_TABLE = {"ri": "lineitem", "ivfpq": "embeddings", "bm25": "documents"}
INDEX_KEY = {"ri": "l_orderkey", "ivfpq": "vec_id", "bm25": "doc_id"}
#: the timed steps per family, cut to fit the run budget (NOTES.md)
INDEX_STEPS = {"ri": ("merge", "compact", "serve"), "ivfpq": ("merge", "serve"), "bm25": ("serve",)}


def _member(column, ids):
    import pyarrow as pa
    import pyarrow.compute as pc

    return pc.is_in(column, value_set=pa.array(sorted(ids), type=column.type))


def _parquet_bytes(table) -> int:
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.tell()


def _index_twin(family: str) -> str:
    """O_Q188 / O_Q200 / O_Q140 derived over the live rows (DuckDB
    relation ``live``) and the run's query set (relation ``qset``), the
    way the registry derives O_Q206 from O_Q188."""
    from data_lake_with_spark_spark import queries as Q
    from perfbench.check import derive

    if family == "ri":
        live = derive(Q.O_Q188, "FROM lineitem)", "FROM lineitem WHERE l_orderkey IN (SELECT k FROM live))")
        return f"SELECT * FROM ({live}) WHERE item IN (SELECT k FROM qset)"
    if family == "ivfpq":
        sql = derive(
            Q.O_Q200,
            "FROM ev JOIN cb USING (subspace)) WHERE rn = 1)",
            "FROM ev JOIN cb USING (subspace)) WHERE rn = 1 AND vec_id IN (SELECT k FROM live))",
        )
        return derive(sql, "CROSS JOIN cents c WHERE e.vec_id < 10)", "CROSS JOIN cents c WHERE e.vec_id IN (SELECT k FROM qset))")
    sql = derive(Q.O_Q140, "FROM documents WHERE doc_id % 200 <> 0)", "FROM documents WHERE doc_id IN (SELECT k FROM live))")
    return derive(sql, "FROM documents WHERE doc_id % 200 = 0)", "FROM documents WHERE doc_id IN (SELECT k FROM qset))")


def _check_serve(run: Run, family: str, got, live: set, qset: set) -> None:
    import pyarrow as pa

    from perfbench.check import compare, run_sql

    run.con.register("live", pa.table({"k": pa.array(sorted(live), pa.int64())}))
    run.con.register("qset", pa.table({"k": pa.array(sorted(qset), pa.int64())}))
    problem = compare(*got, *run_sql(run.con, _index_twin(family)))
    if problem:
        run.fail(f"serve_{family} vs oracle twin over the live rows: {problem}")


def index_lifecycle(run: Run, seed: int, source: dict) -> None:
    """Set-up builds the three indexes, each over its table minus a
    seeded held-out pool. The timed phase takes the families in
    ``INDEX_STEPS`` order and runs each one's steps: merge its whole
    pool into a new epoch, compact and vacuum its root, serve its query
    set from the current epoch (checked against the oracle twin over
    the live rows)."""
    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_lake_with_spark_spark.operators import graph, similarity, text
    from data_lake_with_spark_spark.session import run_concurrent
    from data_lake_with_spark_spark.sources import cow

    spark, data = run.spark, run.data
    rng = np.random.default_rng(seed)
    arrow = {t: pq.read_table(f"{data}/{t}.parquet") for t in INDEX_TABLE.values()}
    n_orders = pq.ParquetFile(f"{data}/orders.parquet").metadata.num_rows
    n_parts = pq.ParquetFile(f"{data}/part.parquet").metadata.num_rows
    n_docs = arrow["documents"].num_rows
    n_vecs = arrow["embeddings"].num_rows
    md = max(1, n_vecs // 40)  # the registry's frozen-quantizer stripe (q201)

    # held-out pools of whole orders / documents / vectors; the vector
    # pool avoids both frozen-quantizer seed stripes, the merge contract
    # q201 respects
    pool = {
        "ri": set(rng.choice(n_orders, n_orders // 32, replace=False).tolist()),
        "ivfpq": set(
            rng.choice([v for v in range(n_vecs) if v % md > 1], n_vecs // 16, replace=False).tolist()
        ),
        "bm25": set(rng.choice(n_docs, n_docs // 16, replace=False).tolist()),
    }
    universe = {"ri": range(n_orders), "ivfpq": range(n_vecs), "bm25": range(n_docs)}
    live = {f: set(universe[f]) - pool[f] for f in pool}
    qset = {
        "ri": set(rng.choice(n_parts, 64, replace=False).tolist()),
        "ivfpq": set(rng.choice(n_vecs, 16, replace=False).tolist()),
        "bm25": set(rng.choice(n_docs, 8, replace=False).tolist()),
    }

    def ids_df(ids: set, col: str):
        return spark.createDataFrame([(int(i),) for i in sorted(ids)], f"{col} bigint")

    def rows_of(f: str, ids: set):
        return source[f].join(F.broadcast(ids_df(ids, INDEX_KEY[f])), INDEX_KEY[f], "left_semi")

    # query sets as local relations: no Spark job before the builds
    def local(f: str, ids: set):
        table = arrow[INDEX_TABLE[f]]
        return spark.createDataFrame(
            [tuple(r.values()) for r in table.filter(_member(table[INDEX_KEY[f]], ids)).to_pylist()],
            source[f].schema,
        )

    items = ids_df(qset["ri"], "item")
    qvecs = local("ivfpq", qset["ivfpq"])
    qdocs = local("bm25", qset["bm25"]).select(F.col("doc_id").alias("query_id"), "text")

    # each family as the registry configures it (q199/q206, q200/q201,
    # q161/q171), maintained through manifest epochs as the streaming
    # ingests do
    builds = {
        "ri": lambda src, p: graph.build_related_items_state(
            src, p, basket_col="l_orderkey", item_col="l_partkey", k=5, min_count=2, n_buckets=32
        ),
        "ivfpq": lambda src, p: similarity.build_ivfpq_index(
            src, p, dim=64, m=8, centroid_mod=md, n_buckets=8, vec_dim=64
        ),
        "bm25": lambda src, p: text.build_bm25_index(src, p),
    }
    # only the families whose INDEX_STEPS merge or compact are listed
    merges = {
        "ri": lambda b, batch, o: graph.merge_related_items_state(
            spark, b, batch, o, basket_col="l_orderkey", item_col="l_partkey", layout="manifest"
        ),
        "ivfpq": lambda b, batch, o: similarity.merge_ivfpq_index(
            spark, b, batch, o, vec_dim=64, layout="manifest"
        ),
    }
    compacts = {"ri": graph.compact_related_items_state}
    components = {"ri": ["pairs", "items", "baskets", "topk"]}
    serves = {
        "ri": lambda cur: graph.related_items_topk(spark, cur).join(F.broadcast(items), "item", "left_semi"),
        "ivfpq": lambda cur: similarity.ivfpq_topk_indexed(spark, cur, qvecs, k=5, nprobe=4),
        "bm25": lambda cur: text.bm25_topk_indexed(spark, cur, qdocs, k=5),
    }
    roots = {f: os.path.join(run.work, "indexes", f) for f in pool}

    def build(f: str):
        def go():
            e0 = cow.new_epoch_path(spark, roots[f])
            builds[f](rows_of(f, live[f]), e0)
            cow.set_current(spark, roots[f], e0, expected=None)

        return go

    t0 = time.perf_counter()
    with run.tracer.span("setup.build", "setup"):
        # independent roots, so the builds overlap as run_concurrent's
        # maintenance legs do
        run_concurrent([build(f) for f in pool])
    run.build_s = time.perf_counter() - t0

    def epoch(f: str, label: str, apply):
        out = cow.new_epoch_path(spark, roots[f], label=label)
        base = cow.get_current(spark, roots[f])
        apply(base, out)
        cow.set_current(spark, roots[f], out, expected=base)

    def merge(f: str):
        return lambda: epoch(f, "merge", lambda b, o: merges[f](b, rows_of(f, pool[f]), o))

    def serve(f: str):
        def go():
            df = serves[f](cow.get_current(spark, roots[f]))
            return df.columns, [tuple(r) for r in df.collect()]

        return go

    def compact(f: str):
        def go():
            epoch(f, "compact", lambda b, o: compacts[f](spark, b, o))
            cow.vacuum_index(spark, roots[f], components[f], min_age_seconds=0.0)

        return go

    KINDS = {"merge": ("maintain", merge), "compact": ("compact", compact), "serve": ("serve", serve)}
    batch_bytes = written_bytes = written_files = 0
    # a fixed family order: the first family pays the maintenance paths'
    # warm-up, so a seeded order moved wall_s by up to 25% between seeds
    for f in INDEX_STEPS:
        col = arrow[INDEX_TABLE[f]]
        for kind, step in [KINDS[name] for name in INDEX_STEPS[f]]:
            run.attempted += 1
            before = tree_bytes(roots[f])
            try:
                out = run.timed(f"{step.__name__}_{f}", kind, step(f), repeatable=kind == "serve")
            except Exception as e:  # noqa: BLE001
                run.fail(f"{step.__name__}_{f}: engine error: {str(e)[:300]}")
                continue
            if kind == "serve":
                _check_serve(run, f, out, live[f], qset[f])
                continue
            after = tree_bytes(roots[f])
            changed = [p for p, size in after.items() if before.get(p) != size]
            written_files += len(changed)
            written_bytes += sum(after[p] for p in changed)
            if kind == "maintain":
                live[f] |= pool[f]
                batch_bytes += _parquet_bytes(col.filter(_member(col[INDEX_KEY[f]], pool[f])))

    stored = sum(sum(tree_bytes(r).values()) for r in roots.values())
    live_bytes = sum(
        _parquet_bytes(arrow[INDEX_TABLE[f]].filter(_member(arrow[INDEX_TABLE[f]][INDEX_KEY[f]], live[f])))
        for f in live
    )
    run.cow_bytes, run.cow_files = written_bytes, written_files
    run.extra["write_amp"] = (
        written_bytes / batch_bytes if batch_bytes else None,
        "ratio",
        "bytes written under index roots by merges and compactions / parquet bytes of the merged rows",
    )
    run.extra["space_amp"] = (
        stored / live_bytes,
        "ratio",
        "bytes under index roots after vacuum / parquet bytes of the live rows",
    )


# --- reporting -----------------------------------------------------------------


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait for processes this run started (JVM, Python workers) to end;
    kill the ones still alive at the deadline."""
    deadline = time.time() + timeout
    alive = list(pids)
    while alive:
        still = []
        for p in alive:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        still.append(p)
            except OSError:
                pass
        alive = still
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def _print_metric(name: str, value, unit: str, note: str = "") -> None:
    v = "n/a" if value is None else f"{value:.6g}"
    print(f"  {name:<52} {v:>12} {unit:<7} {note}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    scale = SCALE[args.workload]
    t_proc = _proc_start_time()

    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "data_lake_with_spark_spark", "__init__.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    try:
        import duckdb

        import data_lake_with_spark_spark  # noqa: F401
        import tools.check_oracle  # noqa: F401
        from perfbench import gen, spans
    except ImportError as e:
        print(f"perfbench: cannot import the engine or its oracle rule: {e}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "eventlog", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    tempfile.tempdir = tmp
    os.chdir(work)

    sampler = RssSampler()
    sampler.start()
    run = Run(args, work)
    spark = None
    pids: list[int] = []
    try:
        t = time.perf_counter()
        sizes = gen.generate(run.data, args.seed, scale)
        gen_s = time.perf_counter() - t

        tracer = run.tracer = spans.Tracer()
        if args.trace:
            spans.instrument(tracer)
            tracer.enabled = True
        from data_lake_with_spark_spark import queries as Q
        from data_lake_with_spark_spark import session

        extra_conf = None
        if args.trace:
            extra_conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        pre_s = time.time() - t_proc - gen_s
        t = time.perf_counter()
        spark = run.spark = session.get_spark(app_name="perfbench", extra_conf=extra_conf)
        spark_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")

        run.con = duckdb.connect()
        from perfbench.check import duckdb_views

        duckdb_views(run.con, run.data, gen.TABLES)
        tables = LAKE_TABLES if args.workload == "lake_queries" else sorted(INDEX_TABLE.values())
        loads = []
        for _ in range(3):
            t = time.perf_counter()
            dfs = setup_tables(run, tables)
            loads.append(time.perf_counter() - t)
        load_s = statistics.median(loads)
        # the JVM's first query pays class loading and JIT warm-up; pay it
        # in set-up, not in the first timed op
        t = time.perf_counter()
        dfs["lineitem"].count()
        warm_s = time.perf_counter() - t

        registry, oracles = Q.queries(), Q.oracle_sql()
        passes = 1
        build_s = 0.0
        if args.workload == "lake_queries":
            passes = max(1, int(args.seconds // LAKE_PASS_S))
            lake_queries(run, registry, oracles, passes, dfs["documents"])
        else:
            index_lifecycle(run, args.seed, {f: dfs[t] for f, t in INDEX_TABLE.items()})
            build_s = run.build_s
        setup_s = pre_s + spark_s + load_s + warm_s + build_s

        sampler.sample()
        peak_mb = sampler.peak_bytes / 2**20
        java = spark._jvm.java.lang.System.getProperty("java.version")
        import pyspark

        facts = {
            "nproc": nproc,
            "mem_total_kb": _mem_total_kb(),
            "spark": spark.version,
            "pyspark": pyspark.__version__,
            "java": java,
            "git_commit": _git_commit(),
            "source_digest": _source_digest(),
            "master": spark.sparkContext.master,
            "seed": args.seed,
            "scale": scale,
        }
        pids = descendants(os.getpid())
        t = time.perf_counter()
        _stop_spark(spark)
        spark = None
        _reap(pids)
        sampler.stop()
        print(f"teardown: {time.perf_counter() - t:.2f} s", file=sys.stderr)
    except BaseException:
        sampler.stop()
        if spark is not None:
            pids = descendants(os.getpid())
            try:
                _stop_spark(spark)
            except Exception:  # noqa: BLE001
                pass
            _reap(pids)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        raise

    # --- report ---
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    print("host: " + " ".join(f"{k}={v}" for k, v in facts.items()))
    in_rows = 0
    for name, (rows, nbytes) in sizes.items():
        used = name in tables
        in_rows += rows if used else 0
        print(f"input: {name:<11} rows={rows:>8} bytes={nbytes:>9}{'' if used else '  (unused)'}")
    print(f"input generation (not timed): {gen_s:.3f} s")
    print("ops (seconds; kind):")
    per_op: dict[str, list[float]] = {}
    for name, kind, dt in run.samples:
        per_op.setdefault(name, []).append(dt)
    for name, ts in per_op.items():
        print(f"  {name:<34} " + " ".join(f"{x:.3f}" for x in ts))
    op_lat = [dt for _, k, dt in run.samples]
    # the timed calls of one pass; checks run after each timer stops
    wall_s = sum(op_lat) / passes
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "rows_per_s": (in_rows / wall_s if wall_s else None, "rows/s"),
    }
    print("end-to-end:")
    for k, (v, u) in e2e.items():
        _print_metric(k, v, u)
    _print_metric("peak_rss_mb", peak_mb, "MB", "Python driver + JVM + Python workers, sampled from /proc")
    _print_metric("setup_s.parts", None, "", f"python {pre_s:.3f}s + get_spark {spark_s:.3f}s + load (median of 3) {load_s:.3f}s + first scan {warm_s:.3f}s + builds {build_s:.3f}s")
    for kind in ("op", "serve"):
        lat = [dt for _, k, dt in run.samples if k == kind]
        if not lat:
            continue
        for p in (0.5, 0.9):
            v, q = tail_percentile(lat, p)
            note = f"{len(lat)} samples"
            if v is None:
                note += "; no percentile has 10 samples beyond it, not reported"
            elif q != p:
                note += f"; p{int(round(p * 100))} lacks 10 samples beyond it, reporting p{q * 100:.0f}"
            _print_metric(f"{kind}_p{int(round(p * 100))}_s", v, "s", note)
    maint = [dt for _, k, dt in run.samples if k == "maintain"]
    if maint:
        _print_metric("maintain_p50_s", statistics.median(maint), "s", f"{len(maint)} samples (median; too few for a tail)")
    comp = [dt for _, k, dt in run.samples if k == "compact"]
    if comp:
        _print_metric("compact_s", sum(comp), "s", f"{len(comp)} compact+vacuum ops, summed")
    for k, (v, u, note) in run.extra.items():
        _print_metric(k, v, u, note)
    failed = len(run.failures)
    attempted = max(1, run.attempted)
    _print_metric("error_rate", failed / attempted, "ratio", f"{failed} failed or mismatched of {attempted}")
    for f in run.failures:
        print(f"  failure: {f}")

    if args.trace:
        metrics = _trace_report(run, work, spark_s)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    print(f"run wall clock: {time.time() - t_proc:.1f} s", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _trace_report(run: Run, work: str, spark_s: float) -> dict:
    from perfbench import spans

    logs = sorted(glob.glob(os.path.join(work, "eventlog", "*")))
    jobs = {}
    for path in logs:
        with open(path) as f:
            jobs.update(spans.parse_event_log(f))
    roll = spans.rollup(run.tracer.spans, jobs, run.op_roots)
    # geometric mean of traced/untraced per op: the order alternates, so
    # the second (warmer) run of a pair cancels out across pairs; the
    # first pair also carries the JVM's first-query warm-up and is left out
    pairs = run.overhead_pairs[1:] or run.overhead_pairs
    overhead = math.exp(statistics.fmean(math.log(t / u) for u, t in pairs)) if pairs else None
    metrics = {name: {"value": roll["spark"][name], "unit": unit} for name, unit in spans.SPARK_METRICS}
    metrics["sources.cow.bytes_written"] = {"value": run.cow_bytes, "unit": "bytes"}
    metrics["sources.cow.files_written"] = {"value": run.cow_files, "unit": "count"}
    get_spark = [s["end"] - s["start"] for s in run.tracer.spans if s["name"] == "session.get_spark"]
    metrics["session.get_spark_s"] = {"value": sum(get_spark) if get_spark else spark_s, "unit": "s"}
    metrics["trace.overhead"] = {"value": overhead, "unit": "ratio"}

    print(f"per-layer (traced pass; {len(jobs)} jobs in the event log, "
          f"{int(roll['spark']['spark.jobs'])} inside timed ops):")
    for name, m in metrics.items():
        _print_metric(name, m["value"], m["unit"])
    print("  span times inside timed ops (s, outermost call per name):")
    for name in sorted(spans.NAMED_FUNCTIONS):
        v = roll["functions"].get(name.removesuffix("_s"), 0.0)
        _print_metric(name, v, "s", "" if v else "not called on this workload")
    print("  layers: calls / total_s / self_s / jobs / tasks / task_run_s")
    for layer, d in sorted(roll["layers"].items()):
        print(
            f"    {layer:<22} {d['calls']:>6} {d['total_s']:>9.3f} {d['self_s']:>9.3f} "
            f"{d['jobs']:>6} {d['tasks']:>7} {d['task_run_s']:>9.3f}"
        )
    _print_metric("trace.overhead", overhead, "ratio", f"geometric mean of traced / untraced over {len(pairs)} repeated ops")
    return metrics


if __name__ == "__main__":
    raise SystemExit(main())
