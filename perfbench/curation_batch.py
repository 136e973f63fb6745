"""``curation_batch`` — five batch LLM-curation queries, run as the
operator-layer probe of the ``live_tail`` traced run (see README).

The ``documents`` and ``embeddings`` tables are generated from the seed in
the shape of the package's test tables: documents of 10-99 words from a
30-word vocabulary plus stopwords of the document's language, 20 sources,
planted exact duplicates (some across sources) and one-word-edit near
duplicates; 64-dimensional unit embeddings around ten labelled centres with
planted near-duplicate vectors.

The probe runs the query set once untimed, then once timed, clearing
Spark's cache before each query and consuming the whole result
(``toPandas``) inside the timed region. The timed pass's results are then
compared with the DuckDB oracle SQL registered for each query, outside the
timed region.
"""

from __future__ import annotations

import os

from perfbench import checks

QUERIES = (
    "q22_dedup_ngram_jaccard",
    "q23_dedup_minhash_lsh",
    "q30_embedding_ann_lsh",
    "q64_decontamination",
    "q61_curation_pipeline",
)
N_DOCS = 1500
N_VECS = 1000
DIM = 64
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order vector line "
    "table data agg value key stream window spark part group big sort query fast the a"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
STOP = {
    "en": ("the", "a", "of", "and", "in", "to", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "los", "y", "es", "un"),
    "fr": ("le", "les", "et", "est", "une", "dans"),
    "zh": (),
}


def generate(seed: int, directory: str) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    texts, langs, sources = [], [], []
    for i in range(N_DOCS):
        lang = LANGS[int(rng.integers(len(LANGS)))]
        source = f"src{int(rng.integers(20))}"
        roll = rng.random()
        if i > 20 and roll < 0.08:
            text = texts[int(rng.integers(i))]
        elif i > 20 and roll < 0.16:
            words = texts[int(rng.integers(i))].split()
            words[int(rng.integers(len(words)))] = VOCAB[int(rng.integers(len(VOCAB)))]
            text = " ".join(words)
        else:
            n = int(rng.integers(10, 100))
            stops = STOP[lang]
            words = [
                stops[int(rng.integers(len(stops)))] if stops and rng.random() < 0.15
                else VOCAB[int(rng.integers(len(VOCAB)))]
                for _ in range(n)
            ]
            text = " ".join(words)
        texts.append(text)
        langs.append(lang)
        sources.append(source)
    docs = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(sources),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(directory, "documents.parquet"))

    centres = rng.normal(size=(10, DIM))
    labels = rng.integers(10, size=N_VECS)
    vecs = centres[labels] + 0.6 * rng.normal(size=(N_VECS, DIM))
    dup = rng.random(N_VECS) < 0.05
    for i in np.nonzero(dup)[0]:
        if i > 0:
            j = int(rng.integers(i))
            vecs[i] = vecs[j] + 0.01 * rng.normal(size=DIM)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array([list(map(float, v.astype(np.float32))) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    pq.write_table(emb, os.path.join(directory, "embeddings.parquet"))


def run_pass(spark, data_dir: str, tracer) -> dict:
    """One untimed warm pass, then one pass with a span per query. Returns
    the timed pass's results."""
    from reactive_kinesis_spark.queries import queries

    registry = queries()
    fns = {name: registry[name] for name in QUERIES}
    for fn in fns.values():
        spark.catalog.clearCache()
        fn(spark, data_dir).toPandas()
    frames = {}
    for name, fn in fns.items():
        spark.catalog.clearCache()
        with tracer.span(f"query.{name}"):
            frames[name] = fn(spark, data_dir).toPandas()
    return frames


def check(frames: dict, data_dir: str) -> tuple[int, int]:
    """DuckDB-oracle parity of the timed pass's results."""
    import duckdb

    from reactive_kinesis_spark.queries import oracle_sql

    oracles = oracle_sql()
    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings"):
            path = os.path.join(data_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        failed = sum(
            not checks.frames_equal(frames[name], con.execute(oracles[name]).fetchdf())
            for name in QUERIES
        )
    finally:
        con.close()
    return failed, len(QUERIES)

