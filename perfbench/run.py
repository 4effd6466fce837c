"""Store-serving benchmark: one closed-loop client drives the store's
public surface (DslExecutor, Engine, AiEngine) on local[nproc] and
checks every result against a numpy oracle.

    python3 perfbench/run.py --workload point_dsl --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The lines printed first give every
metric by name and unit; the last stdout line is one JSON object
{correct, attempted, failed, metrics} holding the end-to-end metrics of
BENCHMARK.json with ``--trace 0`` and its per-layer metrics with
``--trace 1``. Reports and spans go to perfbench/out/; the run's
warehouse and Spark scratch space are deleted at exit. Workloads and
metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import oracle as O  # noqa: E402
import spans  # noqa: E402

STORES = {"point_dsl": "docs", "scan_topk": "vecs", "ingest_mixed": "live"}
EXACT = ("simn", "simn_where", "exact_cos", "exact_euc")


class SetupFailed(Exception):
    pass


def _floats(v) -> list:
    return [float(x) for x in v]


def _vec_text(v) -> str:
    return "[" + ",".join(repr(float(x)) for x in v) + "]"


# --------------------------------------------------------- session --
def start_session(work: str):
    """local[nproc] session whose scratch space, temp files included,
    lives under ``work``. Python workers import the package from the
    checkout root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", "2g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def load_frame(spark, work: str, name: str, model: O.StoreModel):
    """A store model's rows as a DataFrame (key, meta), read back from a
    parquet file the benchmark writes."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    ids, keys = model.arrays()
    metas = [model.rows[int(i)][1] for i in ids]
    names = sorted(metas[0])
    cols = {"key": pa.FixedSizeListArray.from_arrays(
        pa.array(keys.ravel()), model.dim).cast(pa.list_(pa.float32()))}
    for k in names:
        cols[k] = pa.array([m[k] for m in metas])
    path = os.path.join(work, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)

    def mv(c):
        return F.struct(F.lit("raw_string").alias("kind"), F.col(c).alias("s"),
                        F.lit(None).cast("binary").alias("bin"))

    pairs = [x for k in names for x in (F.lit(k), mv(k))]
    return spark.read.parquet(path).select("key", F.create_map(*pairs).alias("meta"))


# ----------------------------------------------------------- runner --
class Runner:
    """Builds one workload's stores, then executes its ops through the
    public surface: DSL text for point_dsl, Engine calls otherwise."""

    def __init__(self, spark, wl: gen.Workload, work: str):
        from ahnlich_spark import AiEngine, DslExecutor, Engine

        self.spark, self.wl, self.work = spark, wl, work
        self.warehouse = os.path.join(work, "wh")
        self.engine = Engine(spark, self.warehouse)
        self.ai = AiEngine(self.engine)
        self.dsl = DslExecutor(self.engine, self.ai)
        self.store = STORES[wl.name]
        self.tracer = None
        self.frames = []  # frames collected by the current op

    def _load(self, name: str, model: O.StoreModel, **create) -> None:
        self.engine.create_store(name, model.dim, **create)
        got = self.engine.set(name, load_frame(self.spark, self.work, name, model))
        if (got.inserted, got.updated) != (len(model.rows), 0):
            raise SetupFailed(f"loading {name} reported {got}, expected "
                              f"{len(model.rows)} inserted")

    def build(self) -> None:
        """Store build and index build (timed as part of setup_s). The
        point_dsl stores load concurrently, as independent bulk loads."""
        wl = self.wl
        if wl.name == "scan_topk":
            self._load(self.store, wl.store, non_linear_indices=["hnsw"])
            return
        if wl.name != "point_dsl":
            self._load(self.store, wl.store, predicates=["cat"])
            return
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(3) as pool:
            jobs = [pool.submit(self._load, self.store, wl.store, predicates=["cat"]),
                    pool.submit(self._load_texts),
                    pool.submit(self._load, "annv", wl.ann, non_linear_indices=["hnsw"])]
            for j in jobs:
                j.result()

    def _load_texts(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.ai.create_store("texts", gen.AI_MODEL, gen.AI_MODEL)
        path = os.path.join(self.work, "texts.parquet")
        pq.write_table(pa.table({"input": self.wl.sentences}), path)
        got = self.ai.set("texts", self.spark.read.parquet(path))
        if (got.inserted, got.updated) != (len(self.wl.sentences), 0):
            raise SetupFailed(f"loading texts reported {got}")

    def collect(self, df):
        self.frames.append(df)
        if self.tracer is not None:
            return self.tracer.call("exec.collect", df.collect)
        return df.collect()

    def _dsl(self, text: str, ai: bool = False):
        res = (self.dsl.execute_ai if ai else self.dsl.execute_db)(text)
        if len(res) != 1 or not res[0].ok:
            raise RuntimeError(res[0].error if res else "no statement result")
        return self.collect(res[0].result)

    def execute(self, op: gen.Op):
        a, k, st, eng = op.args, op.kind, self.store, self.engine
        if self.wl.name == "point_dsl":
            if k == "getkey":
                return self._dsl(f"GETKEY ({_vec_text(a['vec'])}) IN {st}")
            if k == "getpred":
                return self._dsl(f"GETPRED (cat = {a['cat']}) IN {st}")
            if k == "ai_simn":
                return self._dsl(f"GETSIMN {gen.K} WITH [{a['text']}] USING "
                                 f"cosinesimilarity IN texts", ai=True)
            if k == "ann":
                return self._dsl(f"GETSIMN {gen.K} WITH {_vec_text(a['vec'])} "
                                 f"USING hnsw IN annv")
            where = f" WHERE (cat = {a['cat']})" if k == "simn_where" else ""
            return self._dsl(f"GETSIMN {gen.K} WITH {_vec_text(a['vec'])} "
                             f"USING cosinesimilarity IN {st}{where}")
        if k in ("simn", "exact_cos", "exact_euc", "ann"):
            algo = {"exact_euc": O.EUCLIDEAN, "ann": "hnsw"}.get(k, O.COSINE)
            return self.collect(eng.get_sim_n(st, _floats(a["vec"]), gen.K, algorithm=algo))
        if k in ("batch_ann", "batch_exact"):
            algo = "hnsw" if k == "batch_ann" else O.COSINE
            probes = [(q, _floats(v)) for q, v in enumerate(a["probes"])]
            return self.collect(eng.get_sim_n_batch(st, probes, gen.K, algorithm=algo))
        if k == "getkey":
            return self.collect(eng.get_key(st, [_floats(v) for v in a["keys"]]))
        if k == "set":
            return eng.set(st, [(_floats(v), m) for v, m in zip(a["keys"], a["metas"])])
        if k == "delkey":
            return eng.del_key(st, [_floats(v) for v in a["keys"]])
        if k == "upsert":
            from ahnlich_spark.operators.predicates import Equals

            return eng.upsert(st, Equals("uid", a["uid"]), new_value=a["meta"])
        raise ValueError(f"unknown op {k}")

    def final_check(self):
        """The store's row count at run end must equal the model's."""
        n = self.engine.store_df(self.store).count()
        want = len(self.wl.store.rows)
        return None if n == want else f"store holds {n} rows, model {want}"

    def logical_bytes(self) -> int:
        return sum(m.logical_bytes() for m in (self.wl.store, self.wl.ai, self.wl.ann) if m)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, files in os.walk(path) for f in files)


def p75(lat) -> float:
    """Linear-interpolated 75th percentile."""
    return statistics.quantiles(lat, n=4, method="inclusive")[2] if len(lat) > 1 else lat[0]


# -------------------------------------------------------------- run --
def run(args) -> dict:
    wl = gen.make_workload(args.workload, args.seed)
    checker = checks.Checker(wl)
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark, cores = start_session(work)
        runner = Runner(spark, wl, work)
        runner.build()
        setup_s = time.perf_counter() - t0

        # no warm-up: first-use costs (JIT, lazy hnsw histograms) land in
        # the window, as for a freshly started server; they are a fixed
        # handful of ops among the window's dozens
        errors, tracer = [], None
        if args.trace:
            tracer = runner.tracer = spans.Tracer()
            tracer.install()
        sc = spark.sparkContext
        lat, kinds, failed, counters = [], [], 0, []
        scan = defaultdict(lambda: [0, 0])  # kind -> [scan rows, result rows]
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds:
            op = next(wl.ops)
            i = len(lat)
            if tracer is not None:
                tracer.op = i
                sc.setJobGroup(f"op-{i}", op.kind)
            runner.frames = []
            t = time.perf_counter()
            try:
                out, err = runner.execute(op), None
            except Exception as e:  # a refused op is a failed op
                out, err = None, f"{type(e).__name__}: {str(e)[:300]}"
            lat.append(time.perf_counter() - t)
            kinds.append(op.kind)
            if err is None:
                err = checker.check(op, out)
            if err:
                failed += 1
                errors.append(f"op {i} {op.kind}: {err}")
            if tracer is not None:
                tracer.op = None
                counters.append(spans.job_counts(sc, f"op-{i}"))
                if out is not None and runner.frames:
                    scan[op.kind][0] += sum(spans.scan_rows(f) for f in runner.frames)
                    scan[op.kind][1] += len(out)
        elapsed = time.perf_counter() - start
        if tracer is not None:
            tracer.uninstall()
            tracer.dump(os.path.join(OUT, f"{args.workload}-seed{args.seed}-spans.json"))
        final = runner.final_check()
        if final:
            errors.append(f"final: {final}")
        stored = _dir_bytes(runner.warehouse)
        report = summarize(args, wl, lat, kinds, failed, setup_s, checker.recall(),
                           stored / runner.logical_bytes())
        report.update(
            cores=cores, measured_s=elapsed, errors=errors,
            compaction_policy="auto-compaction at 16 delta segments (engine default)",
            stored_bytes=stored, logical_bytes=runner.logical_bytes())
        if tracer is not None:
            report["layers"] = layer_metrics(tracer, lat, kinds, counters, scan)
            report["span_totals"] = tracer.totals()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return report


def summarize(args, wl, lat, kinds, failed, setup_s, recall, space) -> dict:
    mix = gen.MIXES[args.workload]
    n = len(lat)
    by = defaultdict(list)
    for k, t in zip(kinds, lat):
        by[k].append(t)

    def p50(ks):
        xs = [t for k in ks for t in by.get(k, ())]
        return statistics.median(xs) if xs else None

    reads = [k for k, (_w, c) in mix.items() if c == "read"]

    batch_s = sum(by.get("batch_ann", ())) + sum(by.get("batch_exact", ()))
    batch_probes = (gen.BATCH_ANN * len(by.get("batch_ann", ()))
                    + gen.BATCH_EXACT * len(by.get("batch_exact", ())))
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (n / sum(lat), "ops/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (p75(lat), "s"),
        "read_p50_s": (p50(reads), "s"),
        "write_p50_s": (p50([k for k, (_w, c) in mix.items() if c == "write"]), "s"),
        "exact_topk_p50_s": (p50(EXACT), "s"),
        "ann_topk_p50_s": (p50(["ann"]), "s"),
        "batch_probes_per_s": (batch_probes / batch_s if batch_s else None, "probes/s"),
        "recall_at_10": (recall, "fraction"),
        "error_rate": (failed / n, "failed/attempted"),
        "bytes_per_user_byte": (space, "ratio"),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "clients": 1, "loop": "closed",
        "attempted": n, "failed": failed,
        "tail_percentile": 75, "tail_samples_beyond": n // 4,
        "per_op": {k: {"n": len(v), "p50_s": statistics.median(v)} for k, v in by.items()},
        "latencies": [[k, t] for k, t in zip(kinds, lat)],
        "e2e": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    if wl.stats.get("probes"):
        report["repeated_probe_share"] = wl.stats["repeated_probes"] / wl.stats["probes"]
    return report


SCAN_KINDS = ("getkey", "getpred", "simn", "simn_where", "ai_simn", "ann",
              "exact_cos", "exact_euc", "batch_ann", "batch_exact")


def layer_metrics(tracer, lat, kinds, counters, scan) -> dict:
    """Per-layer metrics of a traced run. Times are seconds per measured
    op; ratios are taken over the ops that have the layer's work."""
    n = len(lat)
    tot = tracer.totals()

    def per_op(name, field="s"):
        return tot.get(name, {}).get(field, 0.0) / n

    exact = EXACT + ("batch_exact",)
    rows_scored = sum(scan[k][0] * (gen.BATCH_EXACT if k == "batch_exact" else 1)
                      for k in exact if k in scan)
    exact_ops = {i for i, k in enumerate(kinds) if k in exact}
    collect_s = sum(e - s for name, s, e, _p, op in tracer.spans
                    if name == "exec.collect" and op in exact_ops)
    scanned = sum(v[0] for v in scan.values())
    results = sum(v[1] for v in scan.values())
    m = {
        "dsl.parse_s": (per_op("dsl.parse"), "s"),
        "ai.embed_s": (per_op("ai.embed"), "s"),
        "catalog.reads_per_op": (per_op("catalog.read", "calls"), "count"),
        "catalog.read_s": (per_op("catalog.read"), "s"),
        "catalog.flushes_per_op": (per_op("catalog.flush", "calls"), "count"),
        "catalog.flush_s": (per_op("catalog.flush"), "s"),
        "plans.engine.plan_s": (per_op("plans.engine.plan"), "s"),
        "plans.engine.write_s": (per_op("plans.engine.write"), "s"),
        "sources.store_io.read_store_s": (per_op("sources.store_io.read_store"), "s"),
        "sources.store_io.delta_segments": (
            statistics.fmean(tracer.delta_segments) if tracer.delta_segments else 0.0,
            "count"),
        "sources.store_io.write_s": (per_op("sources.store_io.write"), "s"),
        "sources.store_io.compactions": (tracer.compactions, "count"),
        "sources.store_io.compact_s": (per_op("sources.store_io.compact"), "s"),
        "operators.predicates_s": (per_op("operators.predicates"), "s"),
        "operators.ann.plan_s": (per_op("operators.ann"), "s"),
        "operators.topk.plan_s": (per_op("operators.topk"), "s"),
        "operators.topk.rows_scored_per_s": (
            rows_scored / collect_s if collect_s else 0.0, "rows/s"),
        "exec.collect_s": (per_op("exec.collect"), "s"),
        "scan.rows_per_result": (scanned / results if results else 0.0, "ratio"),
    }
    for k in SCAN_KINDS:
        rows, res = scan[k] if k in scan else (0, 0)
        m[f"scan.rows_per_result.{k}"] = (rows / res if res else 0.0, "ratio")
    for c in ("jobs", "stages", "tasks"):
        m[f"spark.{c}_per_op"] = (sum(x[c] for x in counters) / n, "count")
    m["spark.failed_tasks"] = (sum(x["failed_tasks"] for x in counters), "count")
    m["trace.op_p50_s"] = (statistics.median(lat), "s")
    m["trace.spans_per_op"] = (len(tracer.spans) / n, "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def print_report(r: dict) -> None:
    print(f"workload {r['workload']} seed {r['seed']}: {r['attempted']} ops in "
          f"{r['measured_s']:.1f} s; closed loop, 1 client, local[{r['cores']}]")
    for k, v in r["e2e"].items():
        val = ("n/a (no such op in this workload)" if v["value"] is None
               else f"{v['value']:.6g}")
        extra = (f"  (p75 of n={r['attempted']}, {r['tail_samples_beyond']} beyond)"
                 if k == "op_tail_s" else "")
        print(f"  {k:24s} {val} {v['unit']}{extra}")
    for k, v in sorted(r["per_op"].items()):
        print(f"  op {k:21s} n={v['n']:<4d} p50 {v['p50_s']:.4f} s")
    if "repeated_probe_share" in r:
        print(f"  repeated probe share     {r['repeated_probe_share']:.3f}")
    for k, v in r.get("layers", {}).items():
        print(f"  {k:40s} {v['value']:.6g} {v['unit']}")
    for e in r["errors"]:
        print(f"  ERROR {e}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ahnlich_spark", "__init__.py")):
        print(f"perfbench: no ahnlich_spark package under {ROOT}; run it from the "
              "root of a checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    report = run(args)
    print_report(report)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, name), "w") as f:
        json.dump(report, f, indent=1)
    source = report["layers"] if args.trace else report["e2e"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": source[m["name"]]["value"], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": not report["errors"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
