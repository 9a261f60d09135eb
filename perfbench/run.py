"""The repo benchmark: one cold pass of a named workload through the engine's
public API, checked against independent oracles.

    python3 perfbench/run.py --workload {powerlaw,codegraph,corpus} \\
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Each run is one Spark application process at ``local[nproc]``, the way a batch job
meets the engine: caches empty, every plan built fresh. The seeded inputs
are generated once into ``perfbench/.cache`` (outside the timed region);
set-up is session start plus opening them as DataFrames, which the ops scan
as a batch job scans its input tables. The timed pass runs
the workload's ops in order, each one a public call (plan construction and
any jobs it runs eagerly) followed by materializing every output column
through the ``noop`` sink. Afterwards every output is checked against an
oracle in ``oracles.py``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run that tags every Spark job with the span that caused it, writes the
Spark event log under ``perfbench/out``, repeats each op once in the same
session, and reports the per-layer table; metrics of ops the workload does
not run read 0. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

``--seconds`` is the time the pass is sized for on a 4-core box; the pass is
fixed work, so it is reported against the budget, not cut at it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work", str(os.getpid()))  # this run's scratch
OUT = os.path.join(HERE, "out")

LAYER_OPS = ["pagerank", "pagerank_csr", "cc", "resume", "minhash", "embed_lsh"]
ITERATIVE = ["pagerank", "pagerank_csr", "cc", "resume"]
RERUN = [op for op in LAYER_OPS if op != "resume"]

END_TO_END = [("setup_s", "s"), ("total_s", "s")]
PER_LAYER = [
    ("session.start_s", "s"), ("io.read_s", "s"),
    ("ingest.s", "s"), ("ingest.sha_mismatches", "count"),
    ("derive.import_s", "s"), ("derive.cochange_s", "s"),
    ("derive.import_edges", "count"), ("derive.cochange_edges", "count"),
    ("derive.python_s", "s"), ("derive_s", "s"),
    ("graph.build_s", "s"), ("graph.edges_sym", "count"), ("graph.cached_mb", "MB"),
    ("checkpoint.mb", "MB"),
    *[(f"{op}.{m}", u) for op in LAYER_OPS for m, u in (
        ("call_s", "s"), ("action_s", "s"), ("jobs_in_call", "count"),
        ("jobs_in_action", "count"), ("tasks", "count"), ("task_s", "s"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("idle_s", "s"))],
    *[(f"{op}.supersteps", "count") for op in ITERATIVE],
    *[(f"{op}.rerun_s", "s") for op in RERUN],
    ("pagerank_edges_per_s", "edges/s"),
    ("minhash.candidates", "count"), ("minhash.pairs_per_candidate", "ratio"),
    ("minhash.recall", "ratio"),
    ("embed_lsh.candidates", "count"), ("embed_lsh.pairs_per_candidate", "ratio"),
    ("embed_lsh.recall", "ratio"),
]

MINHASH_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.4
EMBED_LSH_SEEDS = (7, 1009, 2603)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pin_environment() -> None:
    """Pinned engine environment; Spark scratch and temp files stay inside
    the checkout, on local disk rather than tmpfs."""
    for var in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(var, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    local = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = local
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the JVMs would otherwise keep a perf-data file under the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Spark's Python workers start in other directories: make the engine and
    # this package importable from any of them
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


class Runner:
    """Runs ops inside spans; an op that raises or fails its check counts
    as failed. Checks run after the timed pass."""

    def __init__(self, rec):
        self.rec = rec
        self.outputs: list = []
        self.results: dict[str, object] = {}
        self.failed: dict[str, str] = {}
        self.attempted: list[str] = []
        self._checks: list[tuple[str, object]] = []

    def op(self, name: str, call, outputs=lambda r: [r], check=None):
        self.attempted.append(name)
        try:
            with self.rec.span(name):
                with self.rec.span(f"{name}.call"):
                    res = call()
                with self.rec.span(f"{name}.action"):
                    for df in outputs(res):
                        # cached, so the check reads the rows this action made
                        self.outputs.append(df.persist())
                        noop(df)
        except Exception as exc:  # a failed op is counted, the pass goes on
            traceback.print_exc(file=sys.stderr)
            self.failed[name] = f"{type(exc).__name__}: {exc}"
            return None
        self.results[name] = res
        if check is not None:
            self._checks.append((name, check))
        return res

    def run_checks(self) -> None:
        for name, check in self._checks:
            try:
                reason = check(self.results[name])
            except Exception as exc:  # an oracle that cannot run fails the op
                traceback.print_exc(file=sys.stderr)
                reason = f"check raised {type(exc).__name__}: {exc}"
            if reason:
                self.failed[name] = reason
        for df in self.outputs:
            df.unpersist()


class Workload:
    """Shared state of one run: session, inputs, spans and per-op extras."""

    def __init__(self, spark, rec, runner, inputs_dir, params, seed):
        self.spark, self.rec, self.run = spark, rec, runner
        self.inputs_dir, self.p, self.seed = inputs_dir, params, seed
        self.tables: dict[str, object] = {}
        self.sym = None  # oracles.SymGraph of the built graph, set by its check
        self.info: dict[str, float] = {}
        self.reruns: dict[str, object] = {}  # op -> zero-arg repeat of call + action
        self.quality = None  # traced-only LSH candidate counts, run after the checks

    def read_inputs(self) -> None:
        for f in sorted(os.listdir(self.inputs_dir)):
            if f.endswith(".parquet"):
                df = self.spark.read.parquet(os.path.join(self.inputs_dir, f))
                self.tables[f[: -len(".parquet")]] = df

    def graph_op(self, edges):
        """The ``build`` op: Graph over ``edges(src, dst[, weight])``."""
        from sparkgraph.graph import Graph

        def outputs(g):
            # the graph keeps these views persisted itself
            noop(g.edges_sym)
            g.num_vertices  # noqa: B018 — materializes and counts the vertex view
            return []

        def check(g):
            from oracles import SymGraph

            pdf = edges.select("src", "dst").toPandas()
            self.sym = SymGraph(pdf["src"].to_numpy(), pdf["dst"].to_numpy())
            self.info["graph.edges_sym"] = g.edges_sym.count()
            if g.num_vertices != self.sym.n or self.info["graph.edges_sym"] != 2 * len(pdf):
                return f"graph has {g.num_vertices} vertices, oracle {self.sym.n}"
            return None

        return self.run.op("build", lambda: Graph(edges), outputs, check=check)

    def iterative(self, name, call, check, rerun="same"):
        """An op returning a PregelResult; ``rerun`` repeats it in traced runs
        (the same call by default, None for none)."""
        res = self.run.op(name, call, lambda r: [r.state], check=check)
        if res is not None:
            self.info[f"{name}.supersteps"] = res.supersteps
        again = call if rerun == "same" else rerun
        if again is not None:
            self.reruns[name] = lambda: noop(again().state)
        return res


# -- workloads -------------------------------------------------------------------

def powerlaw(w: Workload) -> None:
    import oracles
    from sparkgraph.algorithms import pagerank
    from sparkgraph.kernels import pagerank_csr

    g = w.graph_op(w.tables["edges"])

    def check_pr(mode):
        def check(res):
            want, _ = oracles.pagerank(w.sym, mode, iterations=10)
            return oracles.check_values(w.sym, res.state.toPandas(), "value", want,
                                        atol=oracles.PAGERANK_ATOL)
        return check

    w.iterative("pagerank", lambda: pagerank(g, mode="convergence", tol=1e-6),
                check_pr("convergence"))
    w.iterative("pagerank_csr", lambda: pagerank_csr(g, mode="reference", iterations=10),
                check_pr("reference"))


def codegraph(w: Workload) -> None:
    import oracles
    from pyspark.storagelevel import StorageLevel
    from sparkgraph.algorithms import connected_components
    from sparkgraph.derive import derive_cochange_edges, derive_import_edges
    from sparkgraph.ingest import commit_memberships, ingest_sources, verify_sha_invariant
    from sparkgraph.pregel import Checkpointer

    src, p, rec = w.tables["sources"], w.p, w.rec
    mem = StorageLevel.MEMORY_AND_DISK

    def derive():
        with rec.span("ingest"):
            verts = ingest_sources(src).persist(mem)
            mismatches = verify_sha_invariant(src, verts)
        with rec.span("derive.import"):
            imports = derive_import_edges(verts).persist(mem)
            noop(imports)
        with rec.span("derive.cochange"):
            co = derive_cochange_edges(commit_memberships(src), p["max_commit_files"]).persist(mem)
            noop(co)
        return verts, imports, co, mismatches

    def check_derive(res):
        verts, imports, co, mismatches = res
        w.info["ingest.sha_mismatches"] = mismatches
        if mismatches:
            return f"verify_sha_invariant found {mismatches} mismatches"
        want_imp, want_co = oracles.code_edges(w.seed, p)
        imp_pd, co_pd = imports.toPandas(), co.toPandas()
        w.info["derive.import_edges"], w.info["derive.cochange_edges"] = len(imp_pd), len(co_pd)
        return (oracles.check_ingest(p, verts.toPandas(), src.toPandas())
                or oracles.check_edges(imp_pd, want_imp, "import")
                or oracles.check_edges(co_pd, want_co, "cochange"))

    derived = w.run.op("derive", derive, lambda r: [], check=check_derive)
    edges = None
    if derived is not None:
        edges = derived[1].unionByName(derived[2]).select("src", "dst", "weight")
    g = w.graph_op(edges)

    ckpt = os.path.join(WORK, "ckpt")
    w.info["checkpoint_dir"] = ckpt
    split = p["cc_split"]
    w.iterative(
        "cc",
        lambda: connected_components(
            g, max_iter=split, checkpointer=Checkpointer(ckpt, every=10)),
        lambda res: oracles.check_values(w.sym, res.state.toPandas(), "component",
                                         oracles.hash_min(w.sym, split)),
        # the repeat of the interrupted call writes a fresh checkpoint directory
        rerun=lambda: connected_components(
            g, max_iter=split, checkpointer=Checkpointer(ckpt + "-rerun", every=10)))
    w.iterative(
        "resume",
        lambda: connected_components(
            g, checkpointer=Checkpointer(ckpt, every=10), resume=True),
        lambda res: oracles.check_values(w.sym, res.state.toPandas(), "component",
                                         oracles.hash_min(w.sym)),
        rerun=None)


def corpus(w: Workload) -> None:
    import numpy as np
    import oracles
    from sparkgraph.similarity import embedding_near_dup_pairs_lsh, hyperplane_banded_candidates
    from sparkgraph.text import minhash_lsh_candidates, minhash_lsh_neardup_pairs

    docs, emb = w.tables["documents"], w.tables["embeddings"]
    state = {}

    def doc_pd():
        if "docs" not in state:
            pdf = docs.toPandas()
            state["docs"] = (pdf["doc_id"].to_numpy(), pdf["text"].tolist())
        return state["docs"]

    def check_minhash(df):
        ids, texts = doc_pd()
        truth = oracles.jaccard_pairs(ids, texts, MINHASH_THRESHOLD)
        sets = dict(zip(ids.tolist(), oracles.shingle_sets(texts)))

        def exact(a, b):
            x, y = sets[a], sets[b]
            return round(len(x & y) / len(x | y), 6)

        got = df.toPandas()
        w.info["minhash.pairs"] = len(got)
        reason, w.info["minhash.recall"] = oracles.check_pairs(
            got, "jaccard", truth, exact, lambda v: v >= MINHASH_THRESHOLD, "minhash")
        return reason

    def check_embed(df):
        pdf = emb.select("vec_id", "embedding").toPandas()
        ids = pdf["vec_id"].to_numpy()
        x = np.stack(pdf["embedding"].to_numpy())
        truth, cos = oracles.cosine_pairs(ids, x, COSINE_THRESHOLD)
        pos = {int(v): i for i, v in enumerate(ids)}
        got = df.toPandas()
        w.info["embed_lsh.pairs"] = len(got)
        reason, w.info["embed_lsh.recall"] = oracles.check_pairs(
            got, "cosine", truth, lambda a, b: float(cos[pos[a], pos[b]]),
            lambda v: v >= COSINE_THRESHOLD - 2e-6, "embed_lsh")
        return reason

    calls = {
        "minhash": (lambda: minhash_lsh_neardup_pairs(docs, threshold=MINHASH_THRESHOLD), check_minhash),
        "embed_lsh": (lambda: embedding_near_dup_pairs_lsh(
            emb, threshold=COSINE_THRESHOLD, seeds=EMBED_LSH_SEEDS), check_embed),
    }
    for name, (call, check) in calls.items():
        w.run.op(name, call, check=check)
        w.reruns[name] = lambda call=call: noop(call())

    def quality():
        w.info["minhash.candidates"] = minhash_lsh_candidates(docs).count()
        dim = len(emb.select("embedding").first()[0])
        w.info["embed_lsh.candidates"] = hyperplane_banded_candidates(
            emb, dim, seeds=EMBED_LSH_SEEDS).count()
        for op in ("minhash", "embed_lsh"):
            if w.info[f"{op}.candidates"] and f"{op}.pairs" in w.info:
                w.info[f"{op}.pairs_per_candidate"] = (
                    w.info[f"{op}.pairs"] / w.info[f"{op}.candidates"])

    w.quality = quality


WORKLOADS = {"powerlaw": powerlaw, "codegraph": codegraph, "corpus": corpus}


# -- main ------------------------------------------------------------------------

def dir_mb(path: str) -> float:
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total / (1024.0 * 1024.0)


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / (1024.0 * 1024.0)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(w: Workload, jobs, tasks) -> dict[str, float]:
    from spans import op_layers, python_seconds

    rec = w.rec
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["session.start_s"] = rec.seconds("session")
    m["io.read_s"] = rec.seconds("io.read")
    m["ingest.s"] = rec.seconds("ingest")
    m["derive.import_s"] = rec.seconds("derive.import")
    m["derive.cochange_s"] = rec.seconds("derive.cochange")
    m["derive_s"] = rec.seconds("derive")
    m["derive.python_s"] = python_seconds(rec, "derive", tasks)
    m["graph.build_s"] = rec.seconds("build")
    for op in LAYER_OPS:
        if rec.get(op) is not None and op in w.run.results:
            m.update(op_layers(rec, op, jobs, tasks))
        if rec.get(f"{op}.rerun") is not None:
            m[f"{op}.rerun_s"] = rec.seconds(f"{op}.rerun")
    for k, v in w.info.items():
        if k in m:
            m[k] = v
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparkgraph", "__init__.py")):
        print(f"perfbench: no sparkgraph package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    pin_environment()

    from inputs import ensure_inputs
    from spans import Recorder

    inputs_dir, params = ensure_inputs(args.workload, args.size, args.seed)

    run_id = f"{args.workload}-{args.size}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(OUT, run_id)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    event_dir = os.path.join(out_dir, "eventlog")

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    rec = Recorder()
    t_setup = time.monotonic()
    with rec.span("setup"):
        with rec.span("session"):
            from sparkgraph.session import get_spark

            spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        if args.trace:
            rec.sc = spark.sparkContext
        runner = Runner(rec)
        w = Workload(spark, rec, runner, inputs_dir, params, args.seed)
        with rec.span("io.read"):
            w.read_inputs()
    setup_s = time.monotonic() - t_setup

    try:
        with rec.span("pass"):
            WORKLOADS[args.workload](w)
        total_s = rec.seconds("pass")
        ckpt = w.info.pop("checkpoint_dir", None)
        if ckpt:
            w.info["checkpoint.mb"] = dir_mb(ckpt)
        with rec.span("check"):
            runner.run_checks()
        w.info["graph.cached_mb"] = cached_mb(spark)
        if "pagerank.supersteps" in w.info and "graph.edges_sym" in w.info:
            w.info["pagerank_edges_per_s"] = (w.info["pagerank.supersteps"]
                                              * w.info["graph.edges_sym"] / rec.seconds("pagerank"))
        if args.trace:
            for op, again in w.reruns.items():
                if op in runner.results:
                    with rec.span(f"{op}.rerun"):
                        again()
            if w.quality is not None:
                with rec.span("quality"):
                    w.quality()
    finally:
        stop_spark(spark)
        # checkpoints, Spark scratch and JVM temp files
        shutil.rmtree(WORK, ignore_errors=True)

    attempted, failed = len(runner.attempted), len(runner.failed)
    for op in runner.attempted:
        sp = rec.get(op)
        steps = w.info.get(f"{op}.supersteps")
        status = runner.failed.get(op, "ok") + (f"  {steps} supersteps" if steps else "")
        print(f"{op:>12}  {sp.seconds if sp else 0.0:9.3f} s  {status}")
    print(f"{'setup':>12}  {setup_s:9.3f} s\n{'total':>12}  {total_s:9.3f} s"
          f"  (budget {args.seconds:g} s)\n{'check':>12}  {rec.seconds('check'):9.3f} s")

    if args.trace:
        from spans import read_event_log

        jobs, tasks = read_event_log(event_dir)
        metrics = layer_metrics(w, jobs, tasks)
        units = dict(PER_LAYER)
        untraced = os.path.join(
            OUT, f"{args.workload}-{args.size}-seed{args.seed}-trace0", "result.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["total_s"]
            overhead = f"{total_s - base:+.3f} s ({total_s:.3f} traced vs {base:.3f} untraced)"
        else:
            overhead = "unknown (no untraced run of this workload and seed in perfbench/out)"
        print(f"tracing overhead: {overhead}")
        with open(os.path.join(out_dir, "trace.json"), "w") as fh:
            json.dump({"spans": rec.dump(), "layers": metrics, "overhead": overhead}, fh, indent=1)
    else:
        metrics = {"setup_s": setup_s, "total_s": total_s}
        units = dict(END_TO_END)
    with open(os.path.join(out_dir, "result.json"), "w") as fh:
        json.dump({"setup_s": setup_s, "total_s": total_s, "failed": runner.failed,
                   "ops": {op: rec.seconds(op) for op in runner.attempted},
                   "info": w.info}, fh, indent=1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
