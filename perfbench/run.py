"""Store benchmark: build a gStoreD-style RDF store from a seeded corpus
window, then query it or update it, checking every answer against an oracle.

Run from the repository root:

  python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --workload all --seed 1 --seconds 10

Workloads (one process and one closed-loop client each: the next operation
starts only after the previous answer is back):

  query_mix   store built in set-up; SPARQL templates (point, star, chain,
              cycle, ASK, OPTIONAL+FILTER) round-robin in a seeded order,
              constants drawn Zipf-skewed over entity degree, each query
              answered by both evaluators (match_over_blocks and
              match_partitioned).
  update_mix  a fresh copy of the set-up store; alternating medium (about
              50 triples) and small (2-5) insert/delete batches through
              update_artifact, each followed by one read-your-writes query;
              the run ends with vacuum_artifact and compact_artifact.

The timed loop runs for at least ``--seconds``; query_mix also runs at least
one round (every template once on each evaluator). ``wall_s`` is the time of
fixed work: on query_mix the first round, on update_mix the batches plus
vacuum and compaction. A batch takes longer than a 10 s run, so such a run
applies one medium batch, and its latency_p50_ms, latency_tail_ms and
ops_per_s all derive from that one batch; small batches, and with them
kg.update.small.p50_ms, come only in longer runs.

Every store is built in set-up from the seed's corpus window:
doc_record -> run_pipeline -> write_artifact -> GraphArtifact.
``--workload all`` runs every workload untraced and traced, prints each
end-to-end metric by name and unit, the per-layer metrics, and the tracing
overhead (traced minus untraced end-to-end numbers).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A failed
operation is an error or a wrong answer. ``correct`` is false when a set-up
check fails, the oracle self-tests fail, an operation errors, or an answer is
wrong in any way other than the one known defect the benchmark counts but
does not hide: answers that repeat correct rows because the store keeps one
row per (fact, source page) ("dup" answers, see oracle.classify).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle as O  # noqa: E402
import test_oracle  # noqa: E402
import tracing as TR  # noqa: E402

# Spark JVM heap as a share of physical memory
MEM_FRACTION = 0.2
GOLD_MIN = 0.95  # gold precision/recall floor (tests/test_triples_link_canon.py)
EVALUATORS = ("blocks", "assembled")
# one round of query_mix: every template once on each evaluator
ROUND = 2 * len(O.TEMPLATES)
_ROWS = ("triples", "id_triples", "routed", "internal", "adjacency",
         "signatures", "entity_dict", "literal_dict")


def declared() -> dict:
    """The workloads and the metrics' units, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {
        "workloads": tuple(w["name"] for w in bench["workloads"]),
        "end_to_end": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }


def bounded_rows(df) -> list[tuple]:
    rows = df.limit(O.ROW_BOUND + 1).collect()
    if len(rows) > O.ROW_BOUND:
        raise ValueError(f"answer exceeds {O.ROW_BOUND} rows")
    return [tuple(r) for r in rows]


def tail(latencies: list[float]) -> tuple[float, str, int]:
    """The highest of p99/p95/p90/p75 with at least 10 samples beyond it; a
    run too short for any of them reports p75, the one with the most samples
    beyond it. Percentiles interpolate between samples (statistics.quantiles,
    exclusive method). With the dozen queries of a short run, p90 rests on the
    two slowest queries: on ten seeds of query_mix its spread (quartile
    distance over median) was 0.19, that of p75 0.10. Returns (value,
    percentile label, samples beyond)."""
    if len(latencies) == 1:
        return latencies[0], "p75", 0
    cuts = statistics.quantiles(latencies, n=100)
    for p in (99, 95, 90, 75):
        beyond = sum(x > cuts[p - 1] for x in latencies)
        if beyond >= 10 or p == 75:
            return cuts[p - 1], f"p{p}", beyond


def dir_bytes(root: str) -> int:
    return sum(size for size, _ in TR.dir_files(root).values())


class Run:
    """One benchmark run: a Spark session sized to this host, a per-run
    directory inside the checkout for everything it writes, the spans, and
    the operations and checks it recorded."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.tracer = TR.Tracer()
        self.ops: list[dict] = []
        self.checks: list[dict] = []
        self.counts: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.run_dir = os.path.join(HERE, "_runs", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(self.tmp)
        # Spark gets one core fewer than the host has; the driver process,
        # the pandas-UDF Python workers and the JVM's GC and JIT threads use
        # the last one. In six interleaved seed pairs on a 4-core host,
        # query_mix wall_s ranged 11.0-15.1 s with 4 Spark cores and
        # 10.7-12.7 s with 3, at about the same median.
        self.cores = max(1, len(os.sched_getaffinity(0)) - 1)
        self.steal0, self.busy0 = TR.cpu_times()
        self.spark = None
        self.jvm_pid = None
        self.peak_rss_mb = 0.0
        self.tail_info: dict = {}

    # -- session --------------------------------------------------------------

    def start_spark(self):
        from gstored_spark.session import get_spark

        # everything the run writes stays under its own directory, the
        # spark-submit launcher JVM's files and pyspark's gateway files too
        os.environ["TMPDIR"] = tempfile.tempdir = self.tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        conf = {
            "spark.driver.memory": f"{int(phys * MEM_FRACTION) >> 20}m",
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            # -XX:-UsePerfData: no hsperfdata file in the host's /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if self.trace:
            conf.update(TR.event_log_conf(os.path.join(self.run_dir, "eventlog")))
        self.spark = get_spark(f"perfbench-{self.workload}", cores=self.cores,
                               shuffle_partitions=2 * self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def stop_spark(self):
        """Stop the session and its JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        self.spark = None

    # -- bookkeeping ----------------------------------------------------------

    def check(self, name: str, ok: bool, **detail):
        self.checks.append({"check": name, "ok": bool(ok), **detail})

    def query(self, art, t: O.Template, const: str, evaluator: str) -> dict:
        """One SPARQL operation; the answer is kept for checking later."""
        from gstored_spark.plans.sparql import run_sparql_over_artifact

        text = O.sparql_text(t, const)
        rec = {"kind": "query", "template": t.name, "const": const, "text": text,
               "evaluator": evaluator, "error": None, "cols": None, "rows": None}
        with self.tracer.span("op.query", template=t.name, evaluator=evaluator):
            t0 = time.perf_counter()
            try:
                with self.tracer.span("kg.match.plan"):
                    df = run_sparql_over_artifact(art, text, assembled=evaluator == "assembled")
                with self.tracer.span("kg.match.exec") as sp:
                    rec["cols"] = df.columns
                    rec["rows"] = bounded_rows(df)
                    sp["rows"] = len(rec["rows"])
            except Exception:  # an operation that errors is counted, the run goes on
                rec["error"] = traceback.format_exc(limit=3)
            rec["latency"] = time.perf_counter() - t0
        return rec

    def judge(self, rec: dict, orc: O.Oracle) -> str:
        if rec["error"] is not None:
            verdict = "error"
        else:
            verdict = O.classify(rec["cols"], rec["rows"],
                                 *orc.answer(O.BY_NAME[rec["template"]], rec["const"]))
        rec["verdict"] = verdict
        rec["rows"] = None
        return verdict

    # -- set-up: the store -----------------------------------------------------

    def build_store(self):
        """Corpus window -> run_pipeline -> write_artifact -> GraphArtifact,
        then the build checks. Returns (artifact, store dir, triple set)."""
        import pandas as pd

        from gstored_spark.kg.blocks import GraphArtifact, write_artifact
        from gstored_spark.kg.pipeline import run_pipeline
        from gstored_spark.sources.corpus import DOCUMENTS_SCHEMA, default_entities, doc_record

        spark = self.spark
        with self.tracer.span("setup.corpus"):
            n_entities = default_entities(O.N_DOCS)
            recs = [doc_record(i, n_entities) for i in O.corpus_window(self.seed)]
            gold = {(g["subj"], g["pred"], g["obj"]) for _, gs in recs for g in gs}
            pdf = pd.DataFrame([d for d, _ in recs], columns=DOCUMENTS_SCHEMA.names)
            docs = spark.createDataFrame(pdf, schema=DOCUMENTS_SCHEMA).persist()
            docs.count()
        store = os.path.join(self.run_dir, "store")
        with self.tracer.span("kg.pipeline"):
            # the pipeline's default fragment count: at this size 8 fragments
            # only add files, and a medium update batch took 4 s longer
            res = run_pipeline(spark, docs, release_input=True)
        with self.tracer.span("kg.blocks.write"):
            write_artifact(res, store)
        with self.tracer.span("kg.blocks.open"):
            art = GraphArtifact(spark, store)
        build_s = sum(self.tracer.total(n) for n in
                      ("kg.pipeline", "kg.blocks.write", "kg.blocks.open"))

        with self.tracer.span("check.build"):
            n_rows = res.id_triples.count()
            self.e2e["build_triples_per_s"] = n_rows / build_s
            triples = set(bounded_rows(res.triples.select("subj", "pred", "obj").distinct()))
            hit = len(triples & gold)
            precision, recall = hit / max(len(triples), 1), hit / max(len(gold), 1)
            self.counts["kg.pipeline.gold_precision"] = precision
            self.counts["kg.pipeline.gold_recall"] = recall
            self.check("gold_precision_recall", precision >= GOLD_MIN and recall >= GOLD_MIN,
                       precision=precision, recall=recall)
        files = TR.dir_files(store)
        self.counts["kg.blocks.files_written"] = len(files)
        self.counts["kg.blocks.store_bytes"] = sum(s for s, _ in files.values())
        if self.trace:
            with self.tracer.span("trace.counts"):
                for r in _ROWS:
                    self.counts[f"kg.pipeline.rows.{r}"] = getattr(res, r).count()
                ids = self.counts["kg.pipeline.rows.id_triples"]
                self.counts["kg.partition.replication"] = (
                    self.counts["kg.pipeline.rows.routed"] / ids)
                self.counts["kg.ids.distinct_frac"] = (
                    res.id_triples.select("s", "p", "o").distinct().count() / ids)
        return art, store, triples

    @staticmethod
    def store_set(art) -> set[tuple]:
        """The store's triple set, read back through the public SPARQL call."""
        from gstored_spark.plans.sparql import run_sparql_over_artifact

        return set(bounded_rows(run_sparql_over_artifact(
            art, "SELECT ?s ?p ?o WHERE { ?s ?p ?o }")))

    # -- workloads -------------------------------------------------------------

    def query_mix(self):
        art, store, triples = self.build_store()
        with self.tracer.span("check.store"):
            stored = self.store_set(art)
            self.check("store_set_equals_pipeline_set", stored == triples,
                       store=len(stored), pipeline=len(triples))
        orc = O.Oracle(triples)
        plan = O.query_plan(triples, self.seed, 500)
        # warm-up, as in a long-lived server: fill the handle's catalog caches
        # and compile both evaluators' code paths before timing
        warm = O.BY_NAME["optional_filter"]
        warm_const = O.candidates(triples, warm.slot)[0]
        with self.tracer.span("setup.warmup"):
            for e in EVALUATORS:
                self.judge(self.query(art, warm, warm_const, e), orc)
        self.e2e["setup_s"] = time.perf_counter() - T_PROCESS
        t0 = time.perf_counter()
        i = 0
        # at least --seconds and at least one round; whole pairs, so every
        # template the loop reaches runs on both evaluators
        while i < ROUND or time.perf_counter() - t0 < self.seconds or i % 2:
            t, const = plan[(i // 2) % len(plan)]
            self.ops.append(self.query(art, t, const, EVALUATORS[i % 2]))
            i += 1
            if i == ROUND:
                # wall_s is the first round's time: fixed work, unlike the loop
                self.e2e["wall_s"] = time.perf_counter() - t0
        loop = time.perf_counter() - t0
        for rec in self.ops:
            self.judge(rec, orc)
        orc.close()
        self.e2e["ops_per_s"] = len(self.ops) / loop
        self.e2e["store_bytes_per_triple"] = dir_bytes(store) / len(triples)

    def update_mix(self):
        from gstored_spark.kg.blocks import GraphArtifact, compact_artifact
        from gstored_spark.kg.update import update_artifact, vacuum_artifact

        spark = self.spark
        # no store-set check here: the compacted store is checked against the
        # oracle at the end, which covers the build as well as the updates
        _, store, triples = self.build_store()
        work = os.path.join(self.run_dir, "work")
        shutil.copytree(store, work)
        orc = O.Oracle(triples)
        self.e2e["setup_s"] = time.perf_counter() - T_PROCESS
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < self.seconds:
            ins, dels = O.update_batch(orc.triples, self.seed, i)
            df_ins = spark.createDataFrame(
                ins, "subj string, pred string, obj string, o_is_entity boolean")
            df_del = spark.createDataFrame(dels, "subj string, pred string, obj string")
            before = TR.dir_files(work)
            t_op = time.perf_counter()
            with self.tracer.span("op.update", kind=O.batch_kind(i)):
                try:
                    with self.tracer.span("kg.update") as sp:
                        art = update_artifact(spark, work, inserts=df_ins, deletes=df_del)
                    error = None
                except Exception:  # an operation that errors is counted, the run goes on
                    error = traceback.format_exc(limit=3)
                    art = GraphArtifact(spark, work)
                t_upd = sp["end"] - sp["start"]
                rt, rc = O.read_back(ins, dels, self.seed, i)
                rec = self.query(art, rt, rc, "blocks")
            latency = time.perf_counter() - t_op
            after = TR.dir_files(work)
            written = {p: after[p][0] for p in after if before.get(p) != after[p]}
            orc.apply(ins, dels)
            verdict = self.judge(rec, orc)
            self.ops.append({
                "kind": "update", "batch": O.batch_kind(i), "latency": latency,
                "update_s": t_upd, "changed": len(ins) + len(dels),
                "error": error, "verdict": "error" if error else verdict,
                "read_back": rec, "bytes_written": sum(written.values()),
                "files_written": len(written),
                "dirs_rewritten_frac": len({os.path.dirname(p) for p in written})
                / max(len({os.path.dirname(p) for p in after}), 1),
            })
            i += 1
        loop = time.perf_counter() - t0
        with self.tracer.span("kg.update.vacuum"):
            vacuum_artifact(spark, work)
        compacted = os.path.join(self.run_dir, "compact")
        with self.tracer.span("kg.blocks.compact"):
            art = compact_artifact(GraphArtifact(spark, work), compacted)
        self.e2e["wall_s"] = time.perf_counter() - t0
        self.e2e["ops_per_s"] = len(self.ops) / loop
        with self.tracer.span("check.compacted"):
            stored = self.store_set(art)
            self.check("compacted_set_equals_oracle_set", stored == orc.triples,
                       store=len(stored), oracle=len(orc.triples))
        self.counts["kg.blocks.compact_bytes"] = dir_bytes(compacted)
        self.e2e["store_bytes_per_triple"] = self.counts["kg.blocks.compact_bytes"] / len(
            orc.triples)
        orc.close()

    # -- results ---------------------------------------------------------------

    def finish_e2e(self):
        lat = [op["latency"] for op in self.ops]
        # p50 is the mean of each evaluator's median latency. On query_mix
        # the two evaluators' latencies form two clusters, and the median of
        # the pooled dozen falls in the gap between them: on one set of ten
        # seeds its spread (quartile distance over median) was 0.24, that of
        # this mean 0.14. Update operations form one group.
        by_evaluator: dict = {}
        for op in self.ops:
            by_evaluator.setdefault(op.get("evaluator"), []).append(op["latency"])
        self.e2e["latency_p50_ms"] = statistics.mean(
            statistics.median(xs) for xs in by_evaluator.values()) * 1000
        value, label, beyond = tail(lat)
        self.e2e["latency_tail_ms"] = value * 1000
        self.tail_info = {"percentile": label, "samples": len(lat), "beyond": beyond}

    def query_records(self) -> list[dict]:
        """Every query operation, read-your-writes queries included."""
        return [op if op["kind"] == "query" else op["read_back"] for op in self.ops]

    def time_parses(self):
        """Parse each query text of the run once more, outside the timed loop:
        the query call parses its text itself, out of the benchmark's sight."""
        from gstored_spark.plans.sparql import parse_sparql

        for q in self.query_records():
            with self.tracer.span("plans.sparql.parse"):
                parse_sparql(q["text"])

    def per_layer(self, agg: dict, names) -> dict[str, float]:
        """Every per-layer metric in ``names``; a layer the workload does not
        run reads 0."""
        tr = self.tracer
        m = dict.fromkeys(names, 0.0)
        m.update(self.counts)

        def a(span, key):
            return agg.get(span, {}).get(key, 0)

        wall = tr.total("kg.pipeline")
        for key, src in (("task_s", "run_s"), ("cpu_s", "cpu_s"), ("gc_s", "gc_s"),
                         ("jobs", "jobs"), ("tasks", "tasks"),
                         ("shuffle_write_bytes", "shuffle_write"),
                         ("shuffle_read_bytes", "shuffle_read"), ("spill_bytes", "spill")):
            m[f"kg.pipeline.{key}"] = a("kg.pipeline", src)
        m["kg.pipeline.wall_s"] = wall
        m["kg.pipeline.core_util"] = m["kg.pipeline.task_s"] / (wall * self.cores) if wall else 0
        m["kg.blocks.write_s"] = tr.total("kg.blocks.write")
        m["kg.blocks.write_task_s"] = a("kg.blocks.write", "run_s")
        m["kg.blocks.open_s"] = tr.total("kg.blocks.open")

        def p50_ms(xs):
            return statistics.median(xs) * 1000 if xs else 0.0

        m["plans.sparql.parse_ms"] = p50_ms(tr.durations("plans.sparql.parse"))
        m["kg.match.plan_ms"] = p50_ms(tr.durations("kg.match.plan"))
        m["kg.match.exec_ms"] = p50_ms(tr.durations("kg.match.exec"))
        n_q = len(tr.durations("kg.match.plan"))
        if n_q:
            m["kg.match.plan_jobs"] = a("kg.match.plan", "jobs") / n_q
            result_rows = sum(s.get("rows", 0) for s in tr.spans if s["name"] == "kg.match.exec")
            in_rows = a("kg.match.plan", "input_rows") + a("kg.match.exec", "input_rows")
            m["kg.match.input_rows_per_result"] = in_rows / max(result_rows, 1)
            m["kg.match.input_bytes"] = (a("kg.match.plan", "input_bytes")
                                         + a("kg.match.exec", "input_bytes")) / n_q
        queries = self.query_records()
        for t in O.TEMPLATE_NAMES:
            for e in EVALUATORS:
                m[f"kg.match.{t}.{e}.p50_ms"] = p50_ms(
                    [q["latency"] for q in queries if q["template"] == t and q["evaluator"] == e])
        for e in EVALUATORS:
            qs = [q for q in queries if q["evaluator"] == e]
            bad = sum(q["verdict"] != "ok" for q in qs)
            m[f"kg.match.{e}.failed"] = bad
            m[f"kg.match.{e}.failed_frac"] = bad / len(qs) if qs else 0.0

        updates = [op for op in self.ops if op["kind"] == "update"]
        if updates:
            upd_s = sum(op["update_s"] for op in updates)
            changed = sum(op["changed"] for op in updates)
            written = sum(op["bytes_written"] for op in updates)
            m["kg.update.wall_s"] = upd_s
            m["kg.update.jobs"] = a("kg.update", "jobs")
            m["kg.update.task_s"] = a("kg.update", "run_s")
            m["kg.update.bytes_written"] = written
            m["kg.update.files_written"] = sum(op["files_written"] for op in updates)
            m["kg.update.dirs_rewritten_frac"] = statistics.mean(
                op["dirs_rewritten_frac"] for op in updates)
            for kind in (O.SMALL, O.MEDIUM):
                m[f"kg.update.{kind}.p50_ms"] = p50_ms(
                    [op["update_s"] for op in updates if op["batch"] == kind])
            m["kg.update.changed_triples_per_s"] = changed / upd_s
            m["kg.update.written_bytes_per_changed_triple"] = written / max(changed, 1)
        m["kg.update.vacuum_s"] = tr.total("kg.update.vacuum")
        m["kg.blocks.compact_s"] = tr.total("kg.blocks.compact")
        steal, busy = TR.cpu_times()
        m["host.steal_s"] = steal - self.steal0
        m["host.busy_s"] = busy - self.busy0
        m["host.peak_rss_mb"] = self.peak_rss_mb
        undeclared = sorted(set(m) - set(names))
        if undeclared:
            raise KeyError(f"metrics missing from BENCHMARK.json: {undeclared}")
        return m


def run_one(args, spec: dict) -> int:
    selftest = test_oracle.run_all()
    # the program under test: a checkout without it fails here, before any result
    sys.path.insert(0, ROOT)
    import gstored_spark.kg.pipeline  # noqa: F401

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        run.start_spark()
        getattr(run, args.workload)()
        run.finish_e2e()
        if run.trace:
            run.time_parses()
        run.peak_rss_mb = TR.peak_rss_mb(run.jvm_pid)
    finally:
        run.stop_spark()
    agg = {}
    if run.trace:
        tasks, jobs = TR.read_event_log(os.path.join(run.run_dir, "eventlog"))
        agg = TR.attribute(run.tracer, tasks, jobs)
    shutil.rmtree(run.run_dir, ignore_errors=True)

    verdicts = Counter(op["verdict"] for op in run.ops)
    failed = sum(n for v, n in verdicts.items() if v != "ok")
    correct = (not selftest and all(c["ok"] for c in run.checks)
               and verdicts["wrong"] == 0 and verdicts["error"] == 0)
    queries = run.query_records()
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": {k: {"value": run.e2e[k], "unit": u}
                       for k, u in spec["end_to_end"].items()},
        "verdicts": dict(verdicts),
        "wrong_answers": {e: sum(q["verdict"] != "ok" for q in queries if q["evaluator"] == e)
                          for e in EVALUATORS},
        "queries": {e: sum(q["evaluator"] == e for q in queries) for e in EVALUATORS},
        "latency_tail": run.tail_info,
        "checks": run.checks,
        "selftest_failures": selftest,
        "errors": [op["error"] for op in run.ops if op.get("error")][:3],
        "ops": [{"op": op.get("template") or op.get("batch"), "evaluator": op.get("evaluator"),
                 "ms": round(op["latency"] * 1000, 1), "verdict": op["verdict"]}
                for op in run.ops],
    }
    print(json.dumps(info))
    if run.trace:
        layer = run.per_layer(agg, spec["per_layer"])
        metrics = {k: {"value": layer[k], "unit": u} for k, u in spec["per_layer"].items()}
        TR.write_jsonl(os.path.join(HERE, "_out", f"trace-{args.workload}-{args.seed}.jsonl"),
                       run.tracer, run.counts)
    else:
        metrics = info["end_to_end"]
    print(json.dumps({"correct": correct, "attempted": len(run.ops), "failed": failed,
                      "metrics": metrics}))
    return 0


def run_all(args, spec: dict) -> int:
    """Every workload untraced, then traced; print the end-to-end metrics,
    the per-layer metrics and the tracing overhead."""
    summary = {}
    for w in spec["workloads"]:
        out = {}
        for tr in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(tr)]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900, cwd=ROOT)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                sys.stderr.write(proc.stderr[-4000:])
                return 1
            out[tr] = (json.loads(lines[-2]), json.loads(lines[-1]))
        (info0, res0), (info1, res1) = out[0], out[1]
        print(f"== {w} (seed {args.seed}): correct={res0['correct']} "
              f"attempted={res0['attempted']} failed={res0['failed']} "
              f"wrong answers by evaluator={info0['wrong_answers']}")
        for k, v in res0["metrics"].items():
            over = info1["end_to_end"][k]["value"] - v["value"]
            print(f"  {k:28s} {v['value']:14.4f} {v['unit']:10s} tracing overhead {over:+.4f}")
        for k, v in res1["metrics"].items():
            print(f"  {k:48s} {v['value']:16.4f} {v['unit']}")
        summary[w] = {"untraced": res0, "traced": res1,
                      "overhead": {k: info1["end_to_end"][k]["value"] - v["value"]
                                   for k, v in res0["metrics"].items()}}
    ok = all(s["untraced"]["correct"] and s["traced"]["correct"] for s in summary.values())
    print(json.dumps({"correct": ok,
                      "attempted": sum(s["untraced"]["attempted"] for s in summary.values()),
                      "failed": sum(s["untraced"]["failed"] for s in summary.values()),
                      "metrics": {f"{w}.{k}": v for w, s in summary.items()
                                  for k, v in s["untraced"]["metrics"].items()}}))
    return 0


def main() -> int:
    spec = declared()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec["workloads"] + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    return run_all(args, spec) if args.workload == "all" else run_one(args, spec)


if __name__ == "__main__":
    sys.exit(main())
