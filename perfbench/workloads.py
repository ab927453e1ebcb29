"""The benchmark's workloads, their session and their output checks.

A workload object owns one Spark session. ``set_up`` starts the session,
writes the seeded inputs and warms up by running the workload's own job
once over a small corpus; ``run_pass(k)`` runs timed pass ``k`` over its
own pre-written input; ``check_pass`` then verifies that pass's outputs,
outside any timed region.
"""

from __future__ import annotations

import shutil
import statistics
import time
from collections import Counter
from pathlib import Path

import checks
import inputs
from tracing import host_probe_ms

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"

CORES = 4
# 1000 docs: the corpus on which the flagship was sized at local[4]
# (README, "Workloads")
KG_DOCS = 1000
WARM_DOCS = 40
FILES_PER_CORE = 2
# subj buckets of the timed sink. The lakehouse default (256) writes
# thousands of files a pass here and spends nearly all of its 10-30 s in
# the file system; it is measured per layer (sources.sink_write_s_default)
SINK_BUCKETS = 8
# subject lookups per kg pass
KG_QUERIES_PER_PASS = 8
SAMPLE_DOCS = 6
# the shape of the sf0.1 test tables (documents 5000 x 10-100 words of a
# 30-word vocabulary; embeddings 2000 x 64-d), generated from the seed
RET_DOCS = 5000
RET_VECS = 2000
RET_DIM = 64
RET_FILES = 4
# queries per retrieval pass; the query sequence runs two search_topk per
# cosine_topk across passes
RET_QUERIES_PER_PASS = 2
BM25_K = 10
COSINE_K = 5
# extra warm-up rounds in a process's first set-up, until passes stop
# speeding up; the JIT's compiled code outlives the session restarts of
# later set-ups. kg: full-size passes, which sped up for about four;
# retrieval: index job plus one query of each kind, which sped up for
# about ten
KG_JIT_WARM_PASSES = 3
RET_JIT_WARM_ROUNDS = 10


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def summarize(recs: list, errors: int) -> dict:
    """Medians over checked passes; a pass or query whose check failed
    counts in ``failed`` and not in any timing."""
    good = [r for r in recs if r["ok"]]
    queries = [q for r in recs for q in r["queries"]]
    lat = [ms for ms, q_ok in queries if q_ok]
    return {
        "attempted": len(recs) + errors + len(queries),
        "failed": errors
        + sum(1 for r in recs if not r["ok"])
        + sum(1 for _ms, q_ok in queries if not q_ok),
        "job_s": median([r["job_s"] for r in good]),
        "rows_per_s": median([r["rows"] / r["job_s"] for r in good]),
        "query_p50_ms": median(lat),
        "n_queries": len(lat),
        "n_passes": len(good),
    }


def start_session(cores: int):
    from named_architecture_entity_recognition_spark.session import get_spark

    spark = get_spark(
        "naer-perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
            # the host is shared; the package default (8g) lets the heap
            # grow to several GB on these inputs
            "spark.driver.memory": "2g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def split_by_file(spark, largest_file: int) -> None:
    """Make each input file one scan task, so the layout sets the task
    count: a split may hold up to the largest input file, and opening a
    file costs nothing extra (smaller files, such as checkpoint and sink
    parts, still pack together)."""
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(largest_file))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")


def discard(*paths) -> None:
    """Delete what a warm-up or probe wrote while it is fresh: on a disk
    mounted with ``discard``, deleting a file after its blocks are written
    back costs milliseconds per file. Timed passes' outputs are not
    deleted until the run ends: deleting them between passes stalled
    later passes' writes (passes of 4-8 s against 2.5 s)."""
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def noop(df) -> None:
    """Run ``df`` to completion without a sink."""
    df.write.format("noop").mode("overwrite").save()


class KgWorkload:
    """Documents -> committed triples table through the flagship, then
    subject lookups on the committed table."""

    name = "kg_bulk"

    def __init__(self, seed: int, cores: int, tracer):
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.n_files = FILES_PER_CORE * cores
        self.spark = None
        self.digest = None

    def set_up(self, n_corpora: int, first: bool) -> None:
        self.spark = start_session(self.cores)
        self.make_inputs(n_corpora)
        self.warm_up()
        if first:
            from named_architecture_entity_recognition_spark.sources.lakehouse import (
                read_documents,
            )

            k = 10_000  # a salt no pass uses
            self.write_corpus(k)
            for _ in range(KG_JIT_WARM_PASSES):
                self.run_job(read_documents(self.spark, str(self.corpus_dir(k))), k)
                discard(self.out_dir(k))
            discard(self.corpus_dir(k))

    def make_inputs(self, n_corpora: int) -> None:
        """Base corpus, one salted copy per pass (``c1``..) and a small
        warm-up corpus (``c0``, one file per core so every Python worker
        compiles the gazetteer)."""
        from named_architecture_entity_recognition_spark.plans.pipeline import (
            RecognizerPipeline,
        )
        from named_architecture_entity_recognition_spark.synth import synth_gazetteer

        self.gaz = synth_gazetteer(inputs.GAZETTEER_SIZE)
        self.pipe = RecognizerPipeline(self.gaz)
        self.base = inputs.base_corpus(self.spark, KG_DOCS, self.seed)
        self.n_corpora = n_corpora
        self.largest = self.write_corpus(0, WARM_DOCS, self.cores)
        self.dup_line_frac = inputs.dup_line_frac(
            inputs.salt_corpus(self.base, salt=1, unique=False)
        )
        for k in range(1, n_corpora + 1):
            self.largest = max(self.largest, self.write_corpus(k))
        split_by_file(self.spark, self.largest)
        got = self.spark.read.parquet(str(self.corpus_dir(1))).rdd.getNumPartitions()
        if got != self.n_files:
            raise RuntimeError(f"{got} scan tasks for {self.n_files} files")

    def write_corpus(self, k, n_docs=None, n_files=None, unique=False) -> int:
        """Write salted corpus ``k``; returns its largest file's size."""
        salted = inputs.salt_corpus(self.base, salt=k, unique=unique)
        if n_docs is not None:
            salted = salted.slice(0, n_docs)
        return inputs.write_layout(
            salted, self.corpus_dir(k), n_files or self.n_files
        )

    def warm_up(self) -> None:
        """The job over the warm-up corpus: starts the Python workers,
        compiles the gazetteer in each and JIT-compiles the job's code
        paths."""
        from named_architecture_entity_recognition_spark.sources.lakehouse import (
            read_documents,
        )

        self.run_job(read_documents(self.spark, str(self.corpus_dir(0))), 0)
        discard(self.out_dir(0))

    def corpus_dir(self, k) -> Path:
        return WORK / "in" / f"c{k}"

    def out_dir(self, k) -> Path:
        return WORK / "out" / f"p{k}"

    def run_job(self, docs, k) -> None:
        """The job: documents -> committed triples table."""
        from named_architecture_entity_recognition_spark.sources.lakehouse import (
            write_triples,
        )

        span = self.tracer.span
        with span("plans.pipeline.RecognizerPipeline.triples"):
            triples = self.pipe.triples(docs)
        with span("sources.lakehouse.write_triples"):
            write_triples(triples, str(self.out_dir(k)), SINK_BUCKETS)

    def run_pass(self, k) -> dict:
        from named_architecture_entity_recognition_spark.sources.lakehouse import (
            read_documents,
        )

        sc, span = self.spark.sparkContext, self.tracer.span
        rec = {"pass": k, "probe_ms": host_probe_ms(), "queries": []}
        with span("pass", pass_id=k):
            sc.setJobGroup(f"job-{k}", f"pass {k} job")
            t0 = time.perf_counter()
            with span("sources.lakehouse.read_documents"):
                docs = read_documents(self.spark, str(self.corpus_dir(k)))
            self.run_job(docs, k)
            rec["job_s"] = time.perf_counter() - t0
            sc.setJobGroup(f"queries-{k}", f"pass {k} queries")
            for subj in self.lookup_plan[k]:
                with span("lookup"):
                    t0 = time.perf_counter()
                    got = self.lookup(k, subj)
                    ms = (time.perf_counter() - t0) * 1000.0
                rec["queries"].append((ms, got == self.expected_by_subj[subj]))
        return rec

    def lookup(self, k, subj: str) -> Counter:
        """Subject lookup on the committed table, pruned to its bucket."""
        from pyspark.sql import functions as F

        from named_architecture_entity_recognition_spark.sources.lakehouse import (
            read_triples,
        )

        t = read_triples(self.spark, str(self.out_dir(k)))
        bucket = F.pmod(F.xxhash64(F.lit(subj)), F.lit(SINK_BUCKETS))
        rows = (
            t.filter((F.col("subj_bucket") == bucket) & (F.col("subj") == subj))
            .select("subj", "pred", "obj")
            .collect()
        )
        return Counter((r["subj"], r["pred"], r["obj"]) for r in rows)

    def prepare_checks(self) -> None:
        """In-process expected triples of a seeded doc sample, and the
        seeded subject lookups drawn from them."""
        import numpy as np

        from named_architecture_entity_recognition_spark.operators.matching import (
            MatcherConfig,
            compile_gazetteer,
        )

        rng = np.random.default_rng([self.seed, 4])
        lines = inputs.text_lines(self.base)
        ids = sorted(lines)
        self.sample_ids = sorted(
            ids[i] for i in rng.choice(len(ids), SAMPLE_DOCS, replace=False)
        )
        cfg = MatcherConfig()
        gaz = compile_gazetteer(self.gaz, cfg)
        self.expected = Counter()
        self.expected_by_subj = {}
        for d in self.sample_ids:
            exp = checks.expected_triples(d, lines[d], gaz, cfg)
            self.expected.update(exp)
            for t, c in exp.items():
                self.expected_by_subj.setdefault(t[0], Counter())[t] += c
        subjects = sorted(self.expected_by_subj)
        self.lookup_plan = {
            k: [subjects[i] for i in rng.choice(len(subjects), KG_QUERIES_PER_PASS)]
            for k in range(1, self.n_corpora + 1)
        }

    def check_pass(self, rec: dict) -> None:
        """Sets ``rec["ok"]`` and ``rec["rows"]``. The pass's table and
        input stay until the run ends (see ``discard``).

        The committed table must hold the first pass's triples, each row
        in its subject's bucket, and the sampled docs' triples equal to
        the in-process recomputation."""
        from named_architecture_entity_recognition_spark.sources.lakehouse import (
            read_triples,
        )

        k = rec["pass"]
        table = read_triples(self.spark, str(self.out_dir(k)))
        digest, sample = checks.table_digest(table, SINK_BUCKETS, self.sample_ids)
        self.digest = self.digest or digest
        rec["rows"] = int(digest.split(":")[0])
        rec["ok"] = (
            digest == self.digest and digest.endswith(":0") and sample == self.expected
        )


class RetrievalWorkload:
    """BM25 index job over the documents table, then a closed loop of
    top-k queries."""

    name = "retrieval_topk"

    def __init__(self, seed: int, cores: int, tracer):
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.spark = None
        self.digest = None

    def set_up(self, n_corpora: int, first: bool) -> None:
        self.spark = start_session(self.cores)
        self.make_inputs(n_corpora)
        for _ in range(1 + (RET_JIT_WARM_ROUNDS if first else 0)):
            self.warm_up()

    def make_inputs(self, n_corpora: int) -> None:
        self.n_corpora = n_corpora
        self.docs_table = inputs.retrieval_corpus(RET_DOCS, self.seed)
        self.emb_table = inputs.embeddings(RET_VECS, RET_DIM, self.seed)
        self.largest = max(
            inputs.write_layout(self.docs_table, WORK / "in" / "docs", RET_FILES),
            inputs.write_layout(self.emb_table, WORK / "in" / "emb", RET_FILES),
        )
        split_by_file(self.spark, self.largest)
        self.docs = self.spark.read.parquet(str(WORK / "in" / "docs"))
        self.emb = self.spark.read.parquet(str(WORK / "in" / "emb"))
        # three warm-up queries (both kinds), then RET_QUERIES_PER_PASS a pass
        n = RET_QUERIES_PER_PASS
        plan = inputs.query_plan(3 + n * n_corpora, self.seed, RET_DIM)
        self.query_plan = {0: plan[:3]}
        for k in range(1, n_corpora + 1):
            self.query_plan[k] = plan[3 + (k - 1) * n : 3 + k * n]
        self.dup_line_frac = 0.0  # no line structure

    def warm_up(self) -> None:
        """The index job and one query of each kind."""
        self.run_job(0)
        discard(self.out_dir(0))
        for kind in ("bm25", "cosine"):
            self.query(kind, next(a for q, a in self.query_plan[0] if q == kind))

    def out_dir(self, k) -> Path:
        return WORK / "out" / f"p{k}"

    def run_job(self, k) -> None:
        from named_architecture_entity_recognition_spark.operators.search import (
            build_index,
        )

        postings, stats = build_index(self.spark.read.parquet(str(WORK / "in" / "docs")))
        postings.write.mode("overwrite").parquet(str(self.out_dir(k) / "postings"))
        stats.write.mode("overwrite").parquet(str(self.out_dir(k) / "stats"))

    def query(self, kind: str, arg: list) -> list:
        """One top-k query: [(id, score)] best first."""
        from named_architecture_entity_recognition_spark.operators.search import (
            search_topk,
        )
        from named_architecture_entity_recognition_spark.operators.similarity import (
            cosine_topk,
        )

        if kind == "bm25":
            rows = search_topk(self.docs, arg, k=BM25_K).collect()
            return [(r["doc_id"], r["score"]) for r in rows]
        q = self.spark.createDataFrame(
            [(0, arg)], "query_id long, embedding array<float>"
        )
        rows = cosine_topk(self.emb, q, k=COSINE_K).collect()
        return [
            (r["neighbor_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])
        ]

    def run_pass(self, k) -> dict:
        sc, span = self.spark.sparkContext, self.tracer.span
        rec = {"pass": k, "probe_ms": host_probe_ms(), "queries": []}
        with span("pass", pass_id=k):
            sc.setJobGroup(f"job-{k}", f"pass {k} job")
            t0 = time.perf_counter()
            with span("operators.search.build_index"):
                self.run_job(k)
            rec["job_s"] = time.perf_counter() - t0
            sc.setJobGroup(f"queries-{k}", f"pass {k} queries")
            for kind, arg in self.query_plan[k]:
                with span(f"query.{kind}"):
                    t0 = time.perf_counter()
                    got = self.query(kind, arg)
                    ms = (time.perf_counter() - t0) * 1000.0
                rec["queries"].append((ms, (kind, arg, got)))
        return rec

    def prepare_checks(self) -> None:
        import numpy as np

        self.oracle = checks.Bm25Oracle(self.docs_table)
        self.matrix = np.array(
            self.emb_table.column("embedding").to_pylist(), dtype=np.float32
        )

    def check_pass(self, rec: dict) -> None:
        """The committed postings and stats against DuckDB's; every BM25
        answer against the DuckDB recomputation, every cosine answer
        against numpy. Sets ``rec["ok"]`` and ``rec["rows"]`` and replaces
        each query record with (ms, ok)."""
        checked = []
        for ms, (kind, arg, got) in rec["queries"]:
            if kind == "bm25":
                truth, k, digits = self.oracle.scores(arg), BM25_K, 4
            else:
                truth = checks.cosine_truth(self.matrix, arg)
                k, digits = COSINE_K, 6
            checked.append((ms, checks.topk_matches(got, truth, k, digits)))
        rec["queries"] = checked
        out = self.out_dir(rec["pass"])
        rec["ok"] = self.oracle.index_matches(out / "postings", out / "stats")
        rec["rows"] = self.oracle.n_postings
        self.digest = str(self.oracle.n_postings)


def make_workload(name: str, seed: int, cores: int, tracer):
    if name == "retrieval_topk":
        return RetrievalWorkload(seed, cores, tracer)
    return KgWorkload(seed, cores, tracer)
