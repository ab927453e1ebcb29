"""Seeded benchmark inputs.

Everything the program sees is generated here from the run's seed:

* the base SAD corpus (``synth.synth_documents``, the 200-name synthetic
  gazetteer), identical for both ``kg_*`` workloads of one seed so their
  triples must hash equal;
* one copy of that corpus per timed pass, with a pass-specific salt token
  appended to every text line. A salted line never repeats another pass's
  line, so no pass is answered from a line cache a previous pass filled.
  plain salting keeps the corpus's own duplicate lines duplicate;
  ``unique`` salting makes every line distinct (duplicate rate 0);
* the retrieval corpus (``doc_id, text``), embeddings and query sequence.

Salt tokens are ``zz`` plus lowercase letters, at least 10 characters and
written after the line's own terminator: no gazetteer entry, alias,
acronym or fuzzy window can match them, so salting leaves the triples
unchanged. The output checks in ``checks.py`` verify that on every pass.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GAZETTEER_SIZE = 200

_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def letters(values: np.ndarray, width: int) -> pa.Array:
    """Fixed-width base-26 lowercase spelling of non-negative ints."""
    values = np.asarray(values, dtype=np.int64)
    if values.size and (values.min() < 0 or values.max() >= 26**width):
        raise ValueError(f"value out of range for {width} letters")
    digits = (values[:, None] // (26 ** np.arange(width - 1, -1, -1))) % 26
    raw = _ALPHABET[digits].astype(np.uint8).view(f"S{width}").ravel()
    return pa.array(raw, pa.binary()).cast(pa.string())


def base_corpus(spark, n_docs: int, seed: int) -> pa.Table:
    """The seed's SAD documents, generated by the package's own
    generator and collected into this process as Arrow."""
    from named_architecture_entity_recognition_spark.synth import synth_documents

    return synth_documents(spark, n_docs, seed=seed, partitions=4).toArrow()


def _text_mask(spans: pa.ListArray):
    items = spans.values
    return items, pc.equal(items.field("kind"), "text")


def salt_corpus(table: pa.Table, salt: int, unique: bool) -> pa.Table:
    """Append `` zz<salt>[<line>].`` to every text line of ``table``.

    ``unique=False``: one token per pass (duplicate lines stay
    duplicates). ``unique=True``: the token also spells the line's index,
    so every text line of the corpus is distinct."""
    spans = table.column("spans").combine_chunks()
    items, is_text = _text_mask(spans)
    prefix = " zz" + letters(np.array([salt]), 4)[0].as_py()
    if unique:
        tail = letters(np.arange(len(items)), 6)
        suffix = pc.binary_join_element_wise(pa.scalar(prefix), tail, ".", "")
    else:
        suffix = pa.scalar(prefix + "aaaaaa.")
    text = items.field("text")
    salted = pc.if_else(
        is_text, pc.binary_join_element_wise(text, suffix, ""), text
    )
    fields = list(items.type)
    arrays = [salted if f.name == "text" else items.field(f.name) for f in fields]
    new_items = pa.StructArray.from_arrays(arrays, fields=fields)
    new_spans = pa.ListArray.from_arrays(spans.offsets, new_items)
    return table.set_column(
        table.schema.get_field_index("spans"),
        table.schema.field("spans"),
        new_spans,
    )


def dup_line_frac(table: pa.Table) -> float:
    """Share of text lines that repeat an earlier line of the corpus."""
    items, is_text = _text_mask(table.column("spans").combine_chunks())
    text = items.field("text").filter(is_text)
    if len(text) == 0:
        return 0.0
    return 1.0 - pc.count_distinct(text).as_py() / len(text)


def text_lines(table: pa.Table) -> dict:
    """{doc_id: [text lines in order]} for the in-process recomputation."""
    out = {}
    for row in table.to_pylist():
        out[row["doc_id"]] = [
            s["text"] for s in row["spans"] if s["kind"] == "text"
        ]
    return out


def row_weights(table: pa.Table) -> np.ndarray:
    """Per-row size proxy: spans per document, characters of text, or
    one per row (fixed-width rows)."""
    if "spans" in table.column_names:
        col = pc.list_value_length(table.column("spans"))
    elif "text" in table.column_names:
        col = pc.utf8_length(table.column("text"))
    else:
        return np.ones(table.num_rows)
    return col.to_numpy(zero_copy_only=False).astype(np.float64)


def write_layout(table: pa.Table, path: Path, n_files: int) -> int:
    """Write ``table`` as ``n_files`` parquet files of contiguous rows and
    near-equal size; returns the largest file's size in bytes."""
    path.mkdir(parents=True, exist_ok=True)
    cum = np.cumsum(row_weights(table))
    cuts = np.searchsorted(cum, cum[-1] * np.arange(1, n_files) / n_files)
    bounds = [0, *cuts.tolist(), table.num_rows]
    largest = 0
    for i in range(n_files):
        f = path / f"part-{i:05d}.parquet"
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
        largest = max(largest, f.stat().st_size)
    return largest


# --- retrieval corpus --------------------------------------------------

# the sf0.1 documents table: 10-100 words per doc, drawn uniformly from
# these 30 words
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def retrieval_corpus(n_docs: int, seed: int) -> pa.Table:
    """``(doc_id, text)`` in the shape of the sf0.1 documents table:
    10-100 words per doc, each drawn uniformly from a 30-word
    vocabulary."""
    rng = np.random.default_rng([seed, 1])
    lens = rng.integers(10, 101, size=n_docs)
    words = rng.integers(0, len(_VOCAB), size=int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + n]))
        pos += n
    return pa.table(
        {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}
    )


def embeddings(n_vecs: int, dim: int, seed: int) -> pa.Table:
    """``(vec_id, embedding)``: seeded gaussian float32 vectors."""
    rng = np.random.default_rng([seed, 2])
    vecs = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {"vec_id": np.arange(n_vecs, dtype=np.int64), "embedding": emb}
    )


def query_plan(n: int, seed: int, dim: int) -> list:
    """Seeded closed-loop query sequence: two BM25 queries (two distinct
    vocabulary terms) per single-vector cosine query."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for i in range(n):
        if i % 3 == 2:
            vec = rng.standard_normal(dim).astype(np.float32)
            out.append(("cosine", [float(x) for x in vec]))
        else:
            terms = rng.choice(len(_VOCAB), size=2, replace=False)
            out.append(("bm25", sorted(_VOCAB[t] for t in terms)))
    return out
