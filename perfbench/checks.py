"""Output checks: every pass and every query is checked.

* ``table_digest``: an order-independent value hash and row count of the
  ``(subj, pred, obj)`` multiset of a committed table, and the rows of a
  doc sample. One base corpus gives one digest, whatever the pass, salt,
  layout or plan.
* ``expected_triples``: the triples of a document recomputed in this process
  with ``operators.matching.detect_doc`` and the fused grouping rules
  (occurrences sorted, alias-only groups dropped).
* ``Bm25Oracle`` / ``cosine_truth``: the BM25 index and retrieval answers
  recomputed with DuckDB and numpy; answers compared with ``topk_matches``.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from pyspark.sql import functions as F


def table_digest(triples, sink_buckets: int, sample_ids: list) -> tuple:
    """One Spark job over a ``(subj, pred, obj)`` table. Returns
    ("rows:xxhash64-sum:murmur3-sum:misplaced", Counter of the rows of
    the docs in ``sample_ids``). ``misplaced`` counts rows whose
    ``subj_bucket`` partition is not their subject's bucket (0 for a
    table without that column)."""
    if "subj_bucket" in triples.columns:
        bad = F.col("subj_bucket") != F.pmod(F.xxhash64("subj"), F.lit(sink_buckets))
    else:
        bad = F.lit(False)
    in_sample = F.split("subj", "#")[0].isin(sample_ids)
    row = triples.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("subj", "pred", "obj").cast("decimal(38,0)")).alias("h1"),
        F.sum(F.hash("subj", "pred", "obj").cast("decimal(38,0)")).alias("h2"),
        F.sum(bad.cast("long")).alias("bad"),
        F.collect_list(F.when(in_sample, F.struct("subj", "pred", "obj"))).alias(
            "sample"
        ),
    ).first()
    digest = f"{row['n']}:{row['h1']}:{row['h2']}:{row['bad'] or 0}"
    return digest, Counter(tuple(t) for t in row["sample"])


def expected_triples(doc_id: str, lines: list, gaz_index, cfg) -> Counter:
    """Triples of one document, recomputed in this process."""
    from named_architecture_entity_recognition_spark.operators.matching import (
        detect_doc,
    )

    mentions, aliases = detect_doc(lines, gaz_index, cfg)
    occ: dict = {}
    for sent_no, name, ref, _rule in mentions:
        occ.setdefault(name, set()).add((sent_no, ref))
    alias_by: dict = {}
    for acro, (name, _rx) in aliases.items():
        alias_by.setdefault(name, set()).add(acro)
    out: Counter = Counter()
    for name in sorted(occ):
        subj = f"{doc_id}#{name.lower()}"
        out[(subj, "instanceOf", "COMPONENT")] += 1
        out[(subj, "hasName", name)] += 1
        for a in sorted(alias_by.get(name, ())):
            out[(subj, "hasAlternativeName", a)] += 1
        for s, ref in sorted(occ[name]):
            out[(subj, "occursIn", f"{doc_id}#s{s}#{ref}")] += 1
    return out


def topk_matches(got: list, truth: list, k: int, ndigits: int) -> bool:
    """``got`` [(id, score)] is a correct rounded top-``k`` of ``truth``
    [(id, exact score)] sorted best first: same length, distinct ids,
    ranked by (score desc, id asc), every score equal to the exact one
    rounded, and no unreturned id scoring better than the last returned.
    One unit in the last digit is allowed for summation order."""
    tol = 1.01 * 10.0**-ndigits
    exact = dict(truth)
    if len(got) != min(k, len(truth)) or len({i for i, _ in got}) != len(got):
        return False
    if got != sorted(got, key=lambda r: (-r[1], r[0])):
        return False
    for i, s in got:
        if i not in exact or abs(round(exact[i], ndigits) - s) > tol:
            return False
    returned = {i for i, _ in got}
    best_missed = max((s for i, s in truth if i not in returned), default=None)
    return best_missed is None or not got or best_missed <= got[-1][1] + tol


class Bm25Oracle:
    """BM25 (k1=1.2, b=0.75, +1 idf) over ``(doc_id, text)`` in DuckDB,
    with the whitespace tokenizer of ``operators.textstats.tokens``."""

    def __init__(self, docs):
        import duckdb

        self.con = duckdb.connect()
        self.con.register("docs_arrow", docs)
        self.con.execute(
            "CREATE TABLE tok AS SELECT doc_id, toks, len(toks) AS dl FROM ("
            "SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), "
            "'\\s+'), w -> w != '') AS toks FROM docs_arrow)"
        )
        self.con.execute(
            "CREATE TABLE p AS SELECT term, doc_id, dl, count(*) AS tf FROM ("
            "SELECT doc_id, dl, unnest(toks) AS term FROM tok) "
            "GROUP BY term, doc_id, dl"
        )
        self.n_postings = self.con.execute("SELECT count(*) FROM p").fetchone()[0]

    def index_matches(self, postings_dir, stats_dir) -> bool:
        """Whether a committed index (``search.build_index`` output written
        as parquet) equals the recomputation: the postings
        ``(term, doc_id, dl, tf)`` as a multiset, and the stats row's
        ``n_docs`` exactly and ``avgdl`` to 1e-9 relative."""
        diff = self.con.execute(
            "SELECT count(*) FROM ("
            "(SELECT term, doc_id, dl, tf FROM read_parquet(?) "
            "EXCEPT ALL SELECT term, doc_id, dl, tf FROM p) UNION ALL "
            "(SELECT term, doc_id, dl, tf FROM p "
            "EXCEPT ALL SELECT term, doc_id, dl, tf FROM read_parquet(?)))",
            [f"{postings_dir}/*.parquet"] * 2,
        ).fetchone()[0]
        stats = self.con.execute(
            "SELECT count(*), any_value(n_docs), any_value(avgdl) FROM read_parquet(?)",
            [f"{stats_dir}/*.parquet"],
        ).fetchone()
        n, avgdl = self.con.execute("SELECT count(*), avg(dl) FROM tok").fetchone()
        return (
            diff == 0
            and stats[0] == 1
            and stats[1] == n
            and abs(stats[2] - avgdl) <= 1e-9 * avgdl
        )

    def scores(self, terms: list) -> list:
        return self.con.execute(
            "WITH s AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM tok), "
            "q AS (SELECT * FROM p WHERE list_contains(?, term)), "
            "d AS (SELECT term, count(*) AS df FROM q GROUP BY term) "
            "SELECT doc_id, sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) "
            "* (q.tf * 2.2) / (q.tf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl))) "
            "AS score FROM q JOIN d USING (term) CROSS JOIN s "
            "GROUP BY doc_id ORDER BY score DESC, doc_id",
            [sorted(set(terms))],
        ).fetchall()

    def close(self):
        self.con.close()


def cosine_truth(matrix: np.ndarray, query: list) -> list:
    """[(vec_id, cosine)] for every row of ``matrix``, in float64."""
    q = np.asarray(query, dtype=np.float64)
    m = matrix.astype(np.float64)
    sims = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    return sorted(
        ((int(i), float(s)) for i, s in enumerate(sims)), key=lambda r: (-r[1], r[0])
    )
