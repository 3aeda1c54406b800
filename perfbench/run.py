"""Benchmark of the production pipeline: a checkpointed crawl killed right
after the ``linked`` commit and resumed, then a reference query mix over the
committed graph.

    python3 perfbench/run.py --workload crawl_bounded --seed 1 \\
        --seconds 5 --trace 0

Run it from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run with ``--trace 1``.  The ``#`` lines before it list every rep of every
metric with its median and quartiles.  perfbench/README.md says why each
workload exists and which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import dataclasses
import itertools
import json
import os
import random
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

WORKLOADS = {
    # Zipf head only: the vocabulary stays far under every cutover, so the
    # pass takes the doc-aggregated fast paths, broadcast linking and the
    # driver-side canonical map; time goes to extraction and snapshot I/O.
    "crawl_bounded": {"pages": 400, "tail_share": 0.0},
    # 60% long-tail tokens: thousands of distinct surfaces, past the
    # (scaled) docagg cutover, so the same call takes the shuffle
    # pre-aggregation paths and the DataFrame canonical mapping.
    "crawl_open_vocab": {"pages": 200, "tail_share": 0.6},
}

# run_pipeline picks its relations/entities/provenance path from the
# vocabulary size: above RELATIONS_DOCAGG_MAX_VOCAB distinct aliases the
# canonical map leaves the driver.  Production crosses it at 1M surfaces
# (~40k open-vocabulary pages); these inputs are 200x smaller, so the
# cutover is scaled down, identically for both crawls, to sit between
# them: the bounded crawl has ~35 aliases, the open one ~5.2k.
DOCAGG_CUTOVER = 2_000

STAGE_MODULE = {
    "docs_clean": "extraction", "mentions": "extraction",
    "raw_triples": "extraction", "alias_table": "linking",
    "linked": "linking", "canonical_map": "cc", "entities": "materialize",
    "relations": "materialize", "frames": "materialize",
    "slots": "materialize", "triples": "materialize",
    "provenance": "materialize",
}
KILL_AFTER = "linked"
# stages committed before the simulated kill
RESUMED = ["docs_clean", "mentions", "raw_triples", "alias_table", "linked"]
DRIVER_MEMORY = "4g"

END_TO_END = {
    "setup_s": "s", "pages_per_s": "pages/s", "triples_per_s": "triples/s",
    "resume_s": "s", "stored_mb": "MB", "peak_rss_mb": "MB",
    "query_p50_s": "s", "query_p90_s": "s", "queries_per_s": "queries/s",
}

_T0 = time.perf_counter()


class Killed(Exception):
    """Raised right after a stage's commit: the simulated kill."""


def _log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.cache = os.path.join(root, ".perfbench")
        self.work = os.path.join(self.cache, f"run-{os.getpid()}")
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.trace_dump: list[dict] = []
        self.kill_after: str | None = None
        self.measured_queries = 0

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAILED: {what}", file=sys.stderr)

    # -- session ------------------------------------------------------------
    def start(self) -> None:
        from kgraphmemory_spark import pipeline
        from kgraphmemory_spark.io import snapshots
        from kgraphmemory_spark.session import get_spark
        from perfbench import trace

        self.cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(cores=self.cores, extra={
            # -XX:-UsePerfData: no hsperfdata file in the system /tmp;
            # -Xms with -XX:+AlwaysPreTouch: the whole heap is resident
            # from the start, so peak RSS moves with what lies outside it
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.cache}/tmp -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} "
                "-XX:+AlwaysPreTouch",
        })
        self.session_s = time.perf_counter() - t0
        _log("session started")
        self.jvm = trace.jvm_pid(self.spark)
        self.tracer = trace.Tracer(self.spark)
        if hasattr(pipeline, "RELATIONS_DOCAGG_MAX_VOCAB"):
            pipeline.RELATIONS_DOCAGG_MAX_VOCAB = DOCAGG_CUTOVER
        else:
            self.fail("pipeline.RELATIONS_DOCAGG_MAX_VOCAB is gone: the "
                      "crawls no longer sit on both sides of the docagg "
                      "cutover")
        self._wrap_catalog(snapshots.SnapshotCatalog)

    def _wrap_catalog(self, cls) -> None:
        """The simulated kill: ``commit`` raises ``Killed`` right after the
        stage named ``kill_after`` returns, i.e. after its manifest rename
        (the commit point).  With tracing on, spans around
        ``SnapshotCatalog.stage`` (build + commit: eager jobs of a stage's
        build land in its span) and ``commit`` (frames and slots are
        committed directly)."""
        bench, tracer = self, self.tracer
        orig_stage, orig_commit = cls.stage, cls.commit

        def stage(cat, spark, name, *a, **kw):
            with tracer.span(name):
                return orig_stage(cat, spark, name, *a, **kw)

        def commit(cat, name, *a, **kw):
            cur = tracer.current
            own = cur is not None and cur.name == name
            with nullcontext(cur) if own else tracer.span(name) as sp:
                out = orig_commit(cat, name, *a, **kw)
            if sp is not None:
                c0 = time.perf_counter()
                sp.attrs["written_mb"] = _du_mb(os.path.join(cat.root, name))
                tracer.cost += time.perf_counter() - c0
            if name == bench.kill_after:
                raise Killed(name)
            return out

        cls.stage, cls.commit = stage, commit

    def stop(self) -> None:
        """Stops the session and the gateway JVM (``spark.stop`` alone
        leaves the JVM running until this process exits), then waits for
        the JVM's Python workers, which exit when the JVM is gone."""
        from pyspark import SparkContext

        from perfbench import trace
        workers = trace.descendants(self.jvm)
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while (any(trace.alive(p) for p in workers)
               and time.monotonic() < deadline):
            time.sleep(0.05)

    # -- crawl ----------------------------------------------------------------
    def pages(self):
        return self.spark.read.parquet(
            os.path.join(self.inputs, "pages")).drop("expect_text")

    def crawl(self, workdir: str) -> tuple:
        """One production crawl on a fresh snapshot root, killed right
        after the ``linked`` commit and resumed by a second run_pipeline
        call, then the row counts jobs/run_pipeline.py reports.  Returns
        the resumed tables, the counts and the wall times of both calls."""
        from kgraphmemory_spark.pipeline import run_pipeline
        shutil.rmtree(workdir, ignore_errors=True)
        t0 = time.perf_counter()
        self.kill_after = KILL_AFTER
        try:
            run_pipeline(self.spark, self.pages(), workdir=workdir)
        except Killed:
            pass
        else:
            self.fail(f"the crawl finished without committing {KILL_AFTER}")
        finally:
            self.kill_after = None
        t1 = time.perf_counter()
        kg = run_pipeline(self.spark, self.pages(), workdir=workdir)
        counts = {"docs": kg.docs_clean.count(),
                  "raw_triples": kg.raw_triples.count(),
                  "entities": kg.entities.count(),
                  "relations": kg.relations.count(),
                  "triples": kg.triples.count()}
        t2 = time.perf_counter()
        return kg, counts, t1 - t0, t2 - t1

    def check_crawl(self, con, workdir: str, resumed: list[str]) -> list[str]:
        """Per-url text byte-identity, and every graph table of the resumed
        crawl against the rule-set's answer: relations P/R with exact
        weight and ndocs, entities, frames, slots, the long-format triples
        (entity and frame reification) and per-url provenance counts."""
        from perfbench.checks import compare
        errs = []
        if resumed != RESUMED:
            errs.append(f"stages_resumed {resumed} != {RESUMED}")

        def got(stage):
            return f"read_parquet('{workdir}/{stage}/data/**/*.parquet')"

        def want(table):
            return f"read_parquet('{self.inputs}/expect/{table}.parquet')"

        errs += compare(con, f"SELECT url, text FROM {got('docs_clean')}",
                        f"SELECT url, expect_text FROM read_parquet("
                        f"'{self.inputs}/pages/*.parquet')", "docs text")
        for table, cols in (
                ("relations", "subj, pred, obj, weight, ndocs"),
                ("entities", "entity_id, name, entity_type, mention_count"),
                ("frames", "frame_uri, frame_type, subj, obj"),
                ("slots", "slot_uri, frame_uri, slot_type, entity_value"),
                ("triples", "subject, predicate, object"),
                ("provenance", "url, n_mentions, n_entities, n_triples")):
            errs += compare(con, f"SELECT {cols} FROM {got(table)}",
                            f"SELECT {cols} FROM {want(table)}", table)
        return errs

    # -- run ------------------------------------------------------------------
    def run(self) -> dict:
        from perfbench import inputs, trace
        a = self.args
        # generated before the measured session starts, outside its JVM
        self.inputs = inputs.prepare(
            self.cache, a.workload, self.wl["pages"], a.seed,
            self.wl["tail_share"], 2 * len(os.sched_getaffinity(0)))
        _log("inputs ready")
        self.start()
        try:
            layers = self._phases()
            self.add("peak_rss_mb", trace.peak_rss_mb(self.jvm))
        finally:
            self.stop()
            shutil.rmtree(self.work, ignore_errors=True)
        return layers

    def _phases(self) -> dict:
        import duckdb
        a = self.args
        # the crawl runs in a cold JVM, as every spark-submit of the
        # production job does
        workdir = os.path.join(self.work, "snapshots")
        self.attempted += 1
        if a.trace:
            kg, layers = self.traced_crawl(workdir)
        else:
            kg, counts, killed_s, resume_s = self.crawl(workdir)
            wall = killed_s + resume_s
            self.add("pages_per_s", counts["docs"] / wall)
            self.add("triples_per_s", counts["raw_triples"] / wall)
            self.add("resume_s", resume_s)
            layers = {}
        self.add("stored_mb", _du_mb(workdir))
        with duckdb.connect() as con:
            errs = self.check_crawl(con, workdir, kg.stages_resumed)
        if errs:
            self.fail("; ".join(errs))
        _log("crawl checked")

        t0 = time.perf_counter()
        view = self.serve(kg)
        rounds = self.query_rounds()
        # warm-up: two rounds compile every plan shape; latencies still
        # fell by a quarter over the next round after a warm-up of one
        for _ in range(2):
            self.run_queries(view, next(rounds))
        # start the measured phase from a collected heap, not from
        # whatever garbage the crawl left behind
        self.spark._jvm.System.gc()
        self.add("setup_s", self.session_s + time.perf_counter() - t0)
        _log("graph cached, queries warmed up")
        layers.update(self.query_mix(view, rounds))
        _log("queries done")
        return layers

    # -- traced run -----------------------------------------------------------
    def traced_crawl(self, workdir: str) -> tuple:
        """The crawl with a span per committed stage, inside one span for
        both run_pipeline calls; returns the per-layer metrics."""
        from perfbench import trace
        t = self.tracer
        store = trace.StatusStore(self.spark)
        gc0, py0 = trace.jvm_gc_s(self.spark), trace.pyworker_cpu_s(self.jvm)
        t.enabled, t.cost = True, 0.0
        with t.span("pipeline") as root:
            kg, _, _, _ = self.crawl(workdir)
        t.enabled = False
        gc1, py1 = trace.jvm_gc_s(self.spark), trace.pyworker_cpu_s(self.jvm)
        store.drain()
        out = {}
        stages = [s for s in t.spans if s.parent == "pipeline"]
        for sp in stages:
            m = store.metrics([sp.group])
            mod = STAGE_MODULE[sp.name]
            out[f"{mod}.{sp.name}.s"] = sp.wall
            for k in ("task_s", "cpu_s", "shuffle_mb", "spill_mb", "skew"):
                out[f"{mod}.{sp.name}.{k}"] = m[k]
            out[f"snapshots.{sp.name}.written_mb"] = sp.attrs["written_mb"]
            out[f"snapshots.{sp.name}.jobs"] = m["jobs"]
        every = store.metrics([root.group] + [s.group for s in stages])
        out["pipeline.driver_s"] = root.wall - sum(s.wall for s in stages)
        out["pipeline.jobs"] = every["jobs"]
        out["spark.core_util"] = every["task_s"] / (root.wall * self.cores)
        out["spark.gc_s"] = gc1 - gc0
        out["pyworker.cpu_s"] = py1 - py0
        out["trace.overhead_frac"] = t.cost / root.wall
        self.trace_dump += t.dump()
        t.spans.clear()
        return kg, out

    # -- queries --------------------------------------------------------------
    def serve(self, kg):
        """Caches the committed graph and its vector records: the serving
        state the query mix reads."""
        from kgraphmemory_spark.api import KGraphView
        from kgraphmemory_spark.operators.vectors import build_vector_records
        tables = {n: getattr(kg, n).cache()
                  for n in ("entities", "relations", "triples")}
        for df in tables.values():
            df.count()
        vectors = build_vector_records(tables["entities"]).cache()
        vectors.count()
        return KGraphView(dataclasses.replace(kg, **tables), vectors=vectors)

    def query_rounds(self):
        """Seeded rounds of the reference mix, one query of every class per
        round in a seeded order.  Each class's pool lists hub instances
        before tail ones (inputs.query_pool); a class draws from one half
        in even rounds and from the other in odd ones, and neighbouring
        classes start on different halves, so every round mixes small and
        large answers and every two rounds draw each half of each class
        once."""
        with open(os.path.join(self.inputs, "queries.json")) as f:
            pool = json.load(f)
        by_cls: dict[str, list[dict]] = {}
        for q in pool:
            by_cls.setdefault(q["cls"], []).append(q)
        rng = random.Random(self.args.seed)
        for i in itertools.count():
            qs = []
            for j, c in enumerate(sorted(by_cls)):
                half = len(by_cls[c]) // 2
                part = by_cls[c][:half] if (i + j) % 2 else by_cls[c][half:]
                qs.append(rng.choice(part))
            rng.shuffle(qs)
            yield qs

    def run_queries(self, view, queries) -> list[tuple[str, float]]:
        """Runs and checks each query in turn; returns the class and
        latency of those that returned (a failed query is counted, not
        fatal)."""
        from perfbench import checks
        t, lat = self.tracer, []
        for q in queries:
            self.attempted += 1
            what = f"{q['cls']} {q.get('uri', q.get('text'))}"
            q0 = time.perf_counter()
            try:
                with t.span(q["cls"] + ".plan"):
                    df = checks.build(view, q)
                with t.span(q["cls"] + ".exec"):
                    rows = df.collect()
            except Exception as e:
                self.fail(f"{what}: {e!r}")
                continue
            lat.append((q["cls"], time.perf_counter() - q0))
            err = checks.verify(q, rows)
            if err:
                self.fail(f"{what}: {err}")
        return lat

    def query_mix(self, view, rounds) -> dict:
        """One closed-loop client (the next query is sent when the previous
        answer has been collected and checked), whole rounds until
        --seconds is up.  Stopping between rounds keeps the class mix of
        every run the same: a p50 over a part-round of queries whose
        latencies span 15x depends on which classes the part holds."""
        from perfbench import trace
        t = self.tracer
        t.enabled = bool(self.args.trace)
        measured = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.args.seconds:
            measured += self.run_queries(view, next(rounds))
        wall = time.perf_counter() - t0
        for cls, s in measured:
            self.add(f"query_s.{cls}", s)
        lat = [s for _, s in measured]
        self.measured_queries = len(lat)
        if len(lat) >= 2:
            self.add("query_p50_s", statistics.median(lat))
            self.add("query_p90_s", statistics.quantiles(lat, n=10)[-1])
            self.add("queries_per_s", len(lat) / wall)
        if not t.enabled:
            return {}
        t.enabled = False
        store = trace.StatusStore(self.spark)
        store.drain()
        jobs = sum(len(store.jobs(sp.group)) for sp in t.spans)
        out = {}
        for name in sorted({s.name for s in t.spans}):
            out[f"{name}_s"] = statistics.median(
                s.wall for s in t.spans if s.name == name)
        out["query.jobs_per_query"] = jobs / max(len(lat), 1)
        self.trace_dump += t.dump()
        return out


def _layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_mb"):
        return "MB"
    if last in ("jobs", "jobs_per_query"):
        return "count"
    if last in ("skew", "core_util", "overhead_frac"):
        return "ratio"
    return "s"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kgraphmemory_spark",
                                       "pipeline.py")):
        print("perfbench: run from the repository root (no "
              "kgraphmemory_spark/ package here)", file=sys.stderr)
        return 2
    # pinned environment: python workers import the package from the
    # checkout, the heap fits a 15 GB machine, scratch stays in the checkout
    cache = os.path.join(root, ".perfbench")
    os.makedirs(os.path.join(cache, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache, "spark-local")
    os.environ["TMPDIR"] = os.path.join(cache, "tmp")
    sys.path.insert(0, root)

    from perfbench import trace
    steal0 = trace.cpu_steal()
    bench = Bench(args, root)
    layers = bench.run()
    steal1 = trace.cpu_steal()
    if args.trace:
        with open(os.path.join(
                bench.cache, f"trace-{args.workload}-{args.seed}.json"),
                "w") as f:
            json.dump(bench.trace_dump, f, indent=1)
        metrics = {k: {"value": v, "unit": _layer_unit(k)}
                   for k, v in sorted(layers.items())}
    else:
        metrics = {name: {"value": statistics.median(bench.samples[name]),
                          "unit": unit}
                   for name, unit in END_TO_END.items()
                   if name in bench.samples}
    for name, vals in sorted(bench.samples.items()):
        q1, med, q3 = _quartiles(vals)
        unit = END_TO_END.get(name, "s")
        reps = " ".join(f"{v:.6g}" for v in vals)
        print(f"# {name} [{unit}] n={len(vals)} median={med:.6g} "
              f"q1={q1:.6g} q3={q3:.6g} reps: {reps}")
    print(f"# environment: local[{bench.cores}], SPARK_DRIVER_MEMORY="
          f"{os.environ['SPARK_DRIVER_MEMORY']}, docagg cutover "
          f"{DOCAGG_CUTOVER}, {bench.wl['pages']} pages")
    print(f"# query mix: {bench.measured_queries} queries measured, "
          f"{bench.measured_queries // 10} of them beyond query_p90_s")
    stolen = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    print(f"# host: {100 * stolen:.1f}% of CPU time stolen by other guests "
          "during the run")
    for what in bench.failures:
        print(f"# failure: {what}")
    print(json.dumps({"correct": not bench.failures,
                      "attempted": bench.attempted,
                      "failed": len(bench.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
