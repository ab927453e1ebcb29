"""Traced run: per-layer metrics of one workload (``--trace 1``).

Layers are the package's modules. Spans are recorded by the benchmark
around its own calls into the package; the program itself is not
instrumented. Because Spark runs a plan only at its action, the flagship
is split by timing nested prefixes of its plan, each over a freshly salted
corpus so the matcher's line cache starts cold:

    scan  <  JVM span projection  <  + identity mapInArrow  <  entities
          <  triples  <  triples + sink

A layer's self time is its prefix minus the next shorter one. Passes of
the workload's own job alternate untraced and traced; the difference of
their medians is the tracing overhead.

Every traced run reports every per-layer metric. Layers that the
workload's job does not run are measured on the seed's other inputs: the
kg layers on ``retrieval_topk`` use the ``kg_bulk`` corpus and layout, the
search layers on the kg workloads use the retrieval corpus.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import checks
import inputs
from workloads import (
    BM25_K,
    COSINE_K,
    SINK_BUCKETS,
    WORK,
    KgWorkload,
    RetrievalWorkload,
    log,
    median,
    discard,
    noop,
    split_by_file,
    start_session,
    summarize,
)

MATCH_SAMPLE_DOCS = 150
# the resumable job runs on 8 files per core (the small-file shape of
# tools/submit_job.py inputs), with checkpointed_pipeline's default buckets
LINEAGE_FILES_PER_CORE = 8
LINEAGE_BUCKETS = 8
PYTHON_PARTITIONS = 4  # tiny-task probe: 1 and 4 waves of one-row tasks


def identity_batches(batches):
    yield from batches


def count_bytes(batches):
    import pyarrow as pa

    yield pa.RecordBatch.from_pydict({"n_bytes": [sum(b.nbytes for b in batches)]})


def plan_child(df):
    """The input of ``df``'s top logical node as a DataFrame. For the
    flagship's entities plan that is the JVM span projection feeding its
    mapInArrow kernel."""
    from pyspark.sql import DataFrame

    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "MapInArrow":
        raise RuntimeError(f"flagship plan top is {plan.nodeName()}, not MapInArrow")
    spark = df.sparkSession
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, plan.children().apply(0)
    )
    return DataFrame(jdf, spark)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _runs_python(store, stage_id: int) -> bool:
    """Whether a stage's RDD operation graph holds a Python node."""
    graph = store.operationGraphForStage(stage_id)
    todo, names = [graph.rootCluster()], []
    while todo:
        c = todo.pop()
        names.append(c.name())
        names.extend(n.name() for n in _seq(c.childNodes()))
        todo.extend(_seq(c.childClusters()))
    return any(
        key in name
        for name in names
        for key in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "PythonRDD")
    )


def job_stats(spark, group: str) -> tuple:
    """(jobs, completed tasks, completed tasks of stages running Python)
    of one job group, from the status tracker."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = py_tasks = 0
    for j in jobs:
        for sid in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(sid)
            if info is None:
                continue
            tasks += info.numCompletedTasks
            if _runs_python(store, sid):
                py_tasks += info.numCompletedTasks
    return len(jobs), tasks, py_tasks


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _dir_stats(path: Path, suffix: str = "") -> tuple:
    files = [p for p in path.rglob(f"*{suffix}") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


class Probe:
    """Per-layer measurements on one kg workload object and session."""

    def __init__(self, kg: KgWorkload, m: dict):
        self.kg = kg
        self.m = m
        self.span = kg.tracer.span
        self.salt = 1000
        self.corpora = []
        self.reference = None  # digest of a flagship table
        self.flagship_s = None  # a flagship pass on local[cores]
        self.checked = self.failed = 0

    def fresh_corpus(self, unique: bool = False, n_files=None) -> Path:
        """A newly salted copy of the base corpus in the workload layout."""
        self.salt += 1
        size = self.kg.write_corpus(self.salt, n_files=n_files, unique=unique)
        if size > self.kg.largest:
            self.kg.largest = size
            split_by_file(self.kg.spark, size)
        self.corpora.append(self.kg.corpus_dir(self.salt))
        return self.corpora[-1]

    def clean(self) -> None:
        """Delete what the last probe wrote (see ``workloads.discard``)."""
        discard(WORK / "out", WORK / "mat", WORK / "ckpt", *self.corpora)
        self.corpora = []

    def docs(self, path: Path):
        from named_architecture_entity_recognition_spark.sources.lakehouse import (
            read_documents,
        )

        return read_documents(self.kg.spark, str(path))

    def flagship_job(self, docs, out: Path) -> None:
        from named_architecture_entity_recognition_spark.sources.lakehouse import (
            write_triples,
        )

        write_triples(self.kg.pipe.triples(docs), str(out), SINK_BUCKETS)

    def cache_passes(self, cold_s: float, cold_dir: Path) -> None:
        """A same-text repeat of a cold flagship pass (the per-worker
        line caches now hold its lines) and a flagship pass whose every
        line is distinct (its triples checked against the flagship's)."""
        from named_architecture_entity_recognition_spark.sources.lakehouse import (
            read_triples,
        )

        with self.span("cache.warm_repeat"):
            warm = _timed(lambda: self.flagship_job(self.docs(cold_dir), WORK / "out" / "warm"))
        unique_dir, unique_out = self.fresh_corpus(unique=True), WORK / "out" / "unique"
        with self.span("cache.unique_pass"):
            uniq = _timed(lambda: self.flagship_job(self.docs(unique_dir), unique_out))
        self.check_digest(read_triples(self.kg.spark, str(unique_out)))
        self.m["cache.warm_repeat_s"] = (warm, "s")
        self.m["cache.cold_over_warm"] = (cold_s / warm, "ratio")
        self.m["cache.unique_pass_s"] = (uniq, "s")

    def prefixes(self) -> None:
        from pyspark.sql import functions as F

        from named_architecture_entity_recognition_spark.sources.lakehouse import (
            read_triples,
        )

        pipe, out = self.kg.pipe, WORK / "out" / "prefix-sink"

        def project(d):
            return plan_child(pipe.entities(d))

        def arrow(d):
            p = project(d)
            return p.mapInArrow(identity_batches, p.schema)

        chain = [
            ("sources.scan", lambda d: noop(
                d.select("doc_id", F.col("spans.text"), F.col("spans.kind")))),
            ("mentions.project", lambda d: noop(project(d))),
            ("mentions.arrow", lambda d: noop(arrow(d))),
            ("mentions.entities", lambda d: noop(pipe.entities(d))),
            ("triples.explode", lambda d: noop(pipe.triples(d))),
            ("sources.sink", lambda d: self.flagship_job(d, out)),
        ]
        t = {}
        for name, run in chain:
            path = self.fresh_corpus()
            docs = self.docs(path)
            with self.span(f"prefix.{name}"):
                t[name] = _timed(lambda: run(docs))
        self.flagship_s = t["sources.sink"]
        self.reference, _ = checks.table_digest(
            read_triples(self.kg.spark, str(out)), SINK_BUCKETS, []
        )
        self.cache_passes(t["sources.sink"], path)
        p = project(self.docs(path))
        got = p.mapInArrow(count_bytes, "n_bytes long").collect()
        self.m["mentions.arrow_bytes_in"] = (sum(r["n_bytes"] for r in got), "bytes")
        self.m["sources.scan_s"] = (t["sources.scan"], "s")
        self.m["mentions.project_s"] = (t["mentions.project"], "s")
        self.m["mentions.arrow_roundtrip_s"] = (t["mentions.arrow"], "s")
        self.m["mentions.entities_s"] = (t["mentions.entities"], "s")
        names = [name for name, _run in chain]
        for shorter, name in zip(names, names[1:]):
            self.m[f"self_s.{name}"] = (t[name] - t[shorter], "s")

    def split_per_file(self, path: Path) -> None:
        """Exactly one scan task per parquet file of ``path`` (an open
        cost of a whole split keeps small files from packing), so a
        materialized table is read back in the layout it was written in."""
        largest = max(p.stat().st_size for p in path.glob("*.parquet"))
        split_by_file(self.kg.spark, largest)
        self.kg.spark.conf.set("spark.sql.files.openCostInBytes", str(largest))

    def explode_and_sink(self) -> None:
        """``to_triples`` over entities, and ``write_triples`` over
        triples, each materialized beforehand and read back in the
        flagship's task layout. The sink runs twice: with the benchmark's
        ``SINK_BUCKETS`` (the timed passes' setting) and with the package
        default bucket count (the production sink)."""
        from named_architecture_entity_recognition_spark.operators.triples import (
            to_triples,
        )
        from named_architecture_entity_recognition_spark.sources.lakehouse import (
            write_triples,
        )

        spark, mat = self.kg.spark, WORK / "mat"
        docs = self.docs(self.fresh_corpus())
        self.kg.pipe.entities(docs).write.mode("overwrite").parquet(str(mat / "ents"))
        ents = spark.read.parquet(str(mat / "ents"))
        self.split_per_file(mat / "ents")
        with self.span("triples.to_triples"):
            self.m["triples.explode_s"] = (_timed(lambda: noop(to_triples(ents))), "s")
        to_triples(ents).write.mode("overwrite").parquet(str(mat / "triples"))
        triples = spark.read.parquet(str(mat / "triples"))
        self.split_per_file(mat / "triples")
        self.m["triples.rows"] = (triples.count(), "count")
        out = WORK / "out" / "sink-probe"
        with self.span("sources.lakehouse.write_triples"):
            self.m["sources.sink_write_s"] = (
                _timed(lambda: write_triples(triples, str(out), SINK_BUCKETS)),
                "s",
            )
        files, size = _dir_stats(out, ".parquet")
        self.m["sources.sink_files"] = (files, "count")
        self.m["sources.sink_bytes"] = (size, "bytes")
        discard(out)
        out = WORK / "out" / "sink-probe-default"
        with self.span("sources.lakehouse.write_triples.default"):
            self.m["sources.sink_write_s_default"] = (
                _timed(lambda: write_triples(triples, str(out))),
                "s",
            )
        self.m["sources.sink_files_default"] = (_dir_stats(out, ".parquet")[0], "count")
        split_by_file(spark, self.kg.largest)

    def lineage(self) -> None:
        """The resumable job (``checkpointed_pipeline`` as
        ``tools/submit_job.py`` runs it) on 8 files per core, with each
        ``StageCheckpoint.run`` timed from outside, then a resume on the
        completed root. Its triples must equal the flagship's (a checked
        output)."""
        from named_architecture_entity_recognition_spark.plans import lineage

        kg, stage_s, orig = self.kg, {}, lineage.StageCheckpoint.run

        def timed_run(st, compute, inputs_df, key="doc_id"):
            t0 = time.perf_counter()
            with self.span(f"lineage.{st.stage}"):
                try:
                    return orig(st, compute, inputs_df, key)
                finally:
                    stage_s[st.stage] = time.perf_counter() - t0

        def run():
            return lineage.checkpointed_pipeline(
                self.docs(path), kg.gaz, str(root), n_buckets=LINEAGE_BUCKETS
            ).count()

        root = WORK / "ckpt" / "lineage-probe"
        path = self.fresh_corpus(n_files=LINEAGE_FILES_PER_CORE * kg.cores)
        self.split_per_file(path)
        kg.spark.sparkContext.setJobGroup("lineage-probe", "checkpointed pipeline")
        lineage.StageCheckpoint.run = timed_run
        try:
            run()
        finally:
            lineage.StageCheckpoint.run = orig
        jobs, _tasks, py_tasks = job_stats(kg.spark, "lineage-probe")
        with self.span("lineage.resume"):
            self.m["lineage.resume_s"] = (_timed(run), "s")
        for stage in ("mentions", "entities", "triples"):
            self.m[f"lineage.stage_s.{stage}"] = (stage_s[stage], "s")
        self.m["lineage.bytes_written"] = (_dir_stats(root)[1], "bytes")
        self.m["lineage.spark_jobs"] = (jobs, "count")
        self.m["lineage.python_tasks"] = (py_tasks, "count")
        self.check_digest(kg.spark.read.parquet(str(root / "triples")))
        split_by_file(kg.spark, kg.largest)

    def check_digest(self, triples) -> None:
        """Counts a checked output, failed unless ``triples`` hash the same
        as the flagship's (subject-bucket placement aside)."""
        digest, _ = checks.table_digest(triples, SINK_BUCKETS, [])
        self.checked += 1
        self.failed += digest.split(":")[:3] != self.reference.split(":")[:3]

    def matching(self) -> None:
        """In this process, single-threaded, over the salted lines:
        compile, detection, candidate generation and line-cache use."""
        import numpy as np

        from named_architecture_entity_recognition_spark.operators.matching import (
            LineView,
            MatcherConfig,
            compile_gazetteer,
            detect_doc,
        )

        kg, cfg = self.kg, MatcherConfig()
        compile_ms = []
        for _ in range(3):
            t0 = time.perf_counter()
            compile_gazetteer(kg.gaz, cfg)
            compile_ms.append((time.perf_counter() - t0) * 1000.0)
        self.m["matching.compile_ms"] = (median(compile_ms), "ms")

        shared = inputs.text_lines(inputs.salt_corpus(kg.base, 1, unique=False))
        gaz = compile_gazetteer(kg.gaz, cfg)
        n_lines = sum(len(v) for v in shared.values())
        mentions = {}
        with self.span("matching.detect_doc"):
            t0 = time.perf_counter()
            for doc_id, lines in shared.items():
                mentions[doc_id] = detect_doc(lines, gaz, cfg)[0]
            dt = time.perf_counter() - t0
        self.m["matching.detect_us_per_line"] = (dt / n_lines * 1e6, "us")
        self.m["matching.line_cache_hit_rate"] = (
            1.0 - len(gaz.line_cache) / n_lines,
            "ratio",
        )
        self.m["corpus.dup_line_frac"] = (kg.dup_line_frac, "ratio")

        rng = np.random.default_rng([kg.seed, 5])
        ids = sorted(shared)
        sample = [ids[i] for i in rng.choice(len(ids), MATCH_SAMPLE_DOCS, replace=False)]
        n_cand = n_useful = n_sample_lines = 0
        for doc_id in sample:
            named = {}
            for sent_no, name, _ref, _rule in mentions[doc_id]:
                named.setdefault(sent_no, set()).add(name)
            for sent_no, line in enumerate(shared[doc_id], 1):
                cands = gaz.candidates(LineView(line), cfg)
                n_cand += len(cands)
                n_useful += sum(1 for e in cands if e.name in named.get(sent_no, ()))
                n_sample_lines += 1
        self.m["matching.candidates_per_line"] = (n_cand / n_sample_lines, "count")
        self.m["matching.candidate_yield"] = (n_useful / max(n_cand, 1), "ratio")

        unique = inputs.text_lines(inputs.salt_corpus(kg.base, 2, unique=True))
        gaz = compile_gazetteer(kg.gaz, cfg)
        n_unique = 0
        with self.span("matching.detect_doc.unique"):
            t0 = time.perf_counter()
            for doc_id in sample:
                detect_doc(unique[doc_id], gaz, cfg)
                n_unique += len(unique[doc_id])
            dt = time.perf_counter() - t0
        self.m["matching.detect_us_per_line_unique"] = (dt / n_unique * 1e6, "us")
        self.m["matching.line_cache_hit_rate_unique"] = (
            1.0 - len(gaz.line_cache) / n_unique,
            "ratio",
        )

    def python_task_fixed_ms(self) -> None:
        """Fixed cost of one Python task: identity mapInArrow over one
        tiny row per partition, at 1 and ``PYTHON_PARTITIONS`` waves."""
        spark, cores = self.kg.spark, self.kg.cores

        def run(n):
            return _timed(lambda: noop(
                spark.range(n, numPartitions=n).mapInArrow(identity_batches, "id long")
            ))

        run(cores)
        lo = median([run(cores) for _ in range(2)])
        hi = median([run(PYTHON_PARTITIONS * cores) for _ in range(2)])
        self.m["session.python_task_fixed_ms"] = (
            (hi - lo) / (PYTHON_PARTITIONS - 1) * 1000.0,
            "ms",
        )

    def speedup_1to4(self) -> None:
        """A flagship pass over a fresh corpus in the workload layout on a
        new ``local[1]`` session, after a warm-up (which stays running),
        against the same pass on ``local[cores]`` (the last prefix)."""
        kg = self.kg
        kg.spark.stop()
        kg.spark = start_session(1)
        split_by_file(kg.spark, kg.largest)
        self.flagship_job(self.docs(kg.corpus_dir(0)), WORK / "out" / "speed-warm")
        path = self.fresh_corpus()
        with self.span("session.local1"):
            t_1 = _timed(lambda: self.flagship_job(self.docs(path), WORK / "out" / "speed1"))
        self.m["session.speedup_1to4"] = (t_1 / self.flagship_s, "ratio")


def search_probes(r: RetrievalWorkload, m: dict) -> tuple:
    """Index build, BM25 on the prebuilt index and cosine top-k, each
    answer checked. Returns (failed checks, checks)."""
    from named_architecture_entity_recognition_spark.operators.search import (
        bm25_topk,
    )

    spark, out = r.spark, r.out_dir("index-probe")
    with r.tracer.span("operators.search.build_index"):
        m["search.build_index_s"] = (
            _timed(lambda: r.run_job("index-probe")),
            "s",
        )
    postings = spark.read.parquet(str(out / "postings"))
    stats = spark.read.parquet(str(out / "stats"))
    plan = [q for k in sorted(r.query_plan) for q in r.query_plan[k]]
    bm25 = [arg for kind, arg in plan if kind == "bm25"][:3]
    cos = [arg for kind, arg in plan if kind == "cosine"][:3]
    r.prepare_checks()
    failed, ms_bm25, ms_cos = 0, [], []
    for terms in bm25:
        with r.tracer.span("operators.search.bm25_topk"):
            t0 = time.perf_counter()
            rows = bm25_topk(postings, stats, terms, k=BM25_K).collect()
            ms_bm25.append((time.perf_counter() - t0) * 1000.0)
        got = [(x["doc_id"], x["score"]) for x in rows]
        failed += not checks.topk_matches(got, r.oracle.scores(terms), BM25_K, 4)
    for vec in cos:
        with r.tracer.span("operators.similarity.cosine_topk"):
            t0 = time.perf_counter()
            got = r.query("cosine", vec)
            ms_cos.append((time.perf_counter() - t0) * 1000.0)
        failed += not checks.topk_matches(
            got, checks.cosine_truth(r.matrix, vec), COSINE_K, 6
        )
    r.oracle.close()
    m["search.bm25_query_ms"] = (median(ms_bm25), "ms")
    m["similarity.cosine_topk_ms"] = (median(ms_cos), "ms")
    return failed, len(bm25) + len(cos)


def traced_passes(wl) -> tuple:
    """Untraced, traced, untraced. The overhead compares the traced pass
    with the untraced one after it, keeping the first pass after set-up
    out of the comparison."""
    recs, errors = [], 0
    for k in (1, 2, 3):
        wl.tracer.enabled = k == 2
        try:
            rec = wl.run_pass(k)
            rec["traced"] = wl.tracer.enabled
            rec["stats"] = job_stats(wl.spark, f"job-{k}")
            wl.check_pass(rec)
            recs.append(rec)
        except Exception:  # counted as failed; the loop goes on
            import traceback

            traceback.print_exc()
            errors += 1
    wl.tracer.enabled = True
    return recs, errors


def traced_run(wl, args, n_corpora: int) -> dict:
    m: dict = {}
    t_start = time.perf_counter()
    phases = []

    def phase(name):
        phases.append(f"{name} {time.perf_counter() - t_start:.0f}")

    wl.tracer.enabled = False
    wl.set_up(n_corpora, first=True)
    wl.prepare_checks()
    phase("set-up")
    recs, errors = traced_passes(wl)
    phase("passes")
    s = summarize(recs, errors)
    good = [r for r in recs if r["ok"]]
    traced = median([r["job_s"] for r in good if r["traced"]])
    untraced = median([r["job_s"] for r in good if not r["traced"] and r["pass"] > 1])
    m["trace.job_s"] = (traced, "s")
    m["trace.overhead_s"] = (traced - untraced, "s")
    jobs, tasks, py_tasks = good[0]["stats"] if good else (0, 0, 0)
    m["session.spark_jobs"] = (jobs, "count")
    m["session.spark_tasks"] = (tasks, "count")
    m["mentions.python_tasks"] = (py_tasks, "count")
    m["host.probe_ms"] = (median([r["probe_ms"] for r in recs]), "ms")

    failed, attempted = s["failed"], s["attempted"]
    if isinstance(wl, RetrievalWorkload):
        f, a = search_probes(wl, m)
        discard(WORK / "out")
        # the kg layers run on the seed's kg_bulk corpus and layout
        kg = KgWorkload(wl.seed, wl.cores, wl.tracer)
        kg.spark = wl.spark
        kg.make_inputs(1)
        kg.warm_up()
    else:
        kg = wl
    probe = Probe(kg, m)
    for step in (
        probe.prefixes,
        probe.explode_and_sink,
        probe.lineage,
        probe.matching,
        probe.python_task_fixed_ms,
    ):
        step()
        probe.clean()
        phase(step.__name__)
    if not isinstance(wl, RetrievalWorkload):
        r = RetrievalWorkload(wl.seed, wl.cores, wl.tracer)
        r.spark = kg.spark
        r.make_inputs(1)
        f, a = search_probes(r, m)
        probe.clean()
        phase("search")
    failed, attempted = failed + f + probe.failed, attempted + a + probe.checked
    probe.speedup_1to4()
    probe.clean()
    phase("speedup_1to4")
    wl.spark = kg.spark

    trace_dir = WORK / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    path = trace_dir / f"trace-{wl.name}-{args.seed}.json"
    with open(path, "w") as out:
        json.dump(
            {"spans": wl.tracer.spans, "self_s": wl.tracer.self_times()}, out, indent=0
        )
    log(
        f"{wl.name} seed={args.seed} traced: output digest {wl.digest}; "
        f"job_s traced {traced:.3f} untraced {untraced:.3f} "
        f"(tracing overhead {traced - untraced:+.3f} s); spans in {path}"
    )
    log("phases done at (s): " + ", ".join(phases))
    log(
        "layer self time (s): "
        + ", ".join(f"{k[7:]} {v:.3f}" for k, (v, _u) in m.items() if k.startswith("self_s."))
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())},
    }
