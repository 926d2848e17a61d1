"""LLM-training-data pipeline operators beyond dedup/similarity (SURVEY §2
C-IX): PII redaction, context-window chunking, sequence packing, BM25
retrieval, and benchmark-contamination detection. All pure column
expressions / relational plans — no Python UDFs — so every operator here
runs JVM-side and scales linearly with the corpus: one scan plus only the
shuffles the semantics force (BM25's doc-frequency aggregate, contamination's
semi-join against the broadcast benchmark gram set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rtcdb_spark.deterministic import dsum
from rtcdb_spark.functions.text import (
    MERSENNE_P,
    shingles,
    sql_shingles,
    sql_stable_hash_mod,
    stable_hash_mod,
)
from rtcdb_spark.queries.base import query
from rtcdb_spark.sources import load_table

# --- PII redaction -----------------------------------------------------------

_EMAIL_PAT = "[a-z0-9.]+@[a-z0-9.]+[a-z]"
_PHONE_PAT = "[0-9]{3}-[0-9]{4}"


@query(
    "text_pii_redact",
    f"""
    WITH aug AS (
        SELECT doc_id,
               text || ' reach user' || doc_id ||
               '@mail.example.com ph 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_PAT}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_PAT}')) AS n_phones,
           regexp_replace(regexp_replace(text, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                          '{_PHONE_PAT}', '<PHONE>', 'g') AS redacted
    FROM aug
    ORDER BY doc_id
    """,
    tags=("text", "pii", "llm-pipeline"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub for a training corpus: count and mask email/phone spans with
    typed placeholder tokens. (The fixture text is synthetic, so a per-doc
    email+phone is appended first — the operator under test is the regex
    scrubber itself.) Pure `regexp_replace`/`regexp_extract_all` column
    expressions: stays in whole-stage codegen, zero shuffles before the
    display sort, and at 100 TB it is a map-only pass."""
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com ph 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return (
        d.select("doc_id", aug.alias("text"))
        .select(
            "doc_id",
            F.size(F.expr(f"regexp_extract_all(text, '{_EMAIL_PAT}', 0)")).alias(
                "n_emails"
            ),
            F.size(F.expr(f"regexp_extract_all(text, '{_PHONE_PAT}', 0)")).alias(
                "n_phones"
            ),
            F.regexp_replace(
                F.regexp_replace("text", _EMAIL_PAT, "<EMAIL>"),
                _PHONE_PAT,
                "<PHONE>",
            ).alias("redacted"),
        )
        .orderBy("doc_id")
    )


# --- context-window chunking -------------------------------------------------

_CHUNK = 16  # tokens per chunk
_STRIDE = 12  # chunk start stride (overlap = CHUNK - STRIDE = 4 tokens)


@query(
    "text_chunk_overlap",
    f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    n AS (
        SELECT doc_id, toks,
               CAST(floor((greatest(len(toks) - {_CHUNK}, 0) + {_STRIDE} - 1)
                          / {_STRIDE}) AS BIGINT) + 1 AS n_chunks
        FROM t
    )
    SELECT doc_id,
           CAST(i AS INT) AS chunk_no,
           array_to_string(toks[i * {_STRIDE} + 1 : i * {_STRIDE} + {_CHUNK}], ' ')
               AS chunk_text,
           len(toks[i * {_STRIDE} + 1 : i * {_STRIDE} + {_CHUNK}]) AS chunk_tokens
    FROM n, unnest(generate_series(0, n_chunks - 1)) AS u(i)
    ORDER BY doc_id, chunk_no
    """,
    tags=("text", "chunking", "llm-pipeline"),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: split each document into 16-token chunks with
    a 4-token overlap (stride 12) — the standard context-window prep for
    embedding/RAG pipelines. `sequence` + `explode` + `slice` keeps the
    fan-out inside codegen; output rows ≈ corpus_tokens / stride with no
    shuffle (explode is pipelined into the scan)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_chunks = (
        F.floor(
            (F.greatest(F.size(toks) - _CHUNK, F.lit(0)) + _STRIDE - 1) / _STRIDE
        ).cast("bigint")
        + 1
    )
    e = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias("i"),
    )
    piece = F.slice("toks", F.col("i").cast("int") * _STRIDE + 1, _CHUNK)
    return e.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_no"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("bigint").alias("chunk_tokens"),
    ).orderBy("doc_id", "chunk_no")


# --- sequence packing --------------------------------------------------------

_PACK_BUDGET = 256  # tokens per training sequence


@query(
    "pack_sequences",
    f"""
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS start_offset
        FROM t
    )
    SELECT doc_id, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
           CAST(floor(start_offset / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
           CAST(start_offset % {_PACK_BUDGET} AS BIGINT) AS offset_in_pack
    FROM c
    ORDER BY doc_id
    """,
    tags=("text", "packing", "llm-pipeline"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: concatenate the corpus in doc_id order
    and cut it into fixed 256-token sequences — each document gets its global
    token start offset, the pack (sequence) it starts in, and its offset
    inside that pack. This is the concat-then-chunk packing GPT-style
    pretraining uses (no padding waste). The running offset is one window
    cumsum; at scale the ORDER BY doc_id window is a single range-partitioned
    sort — in a real pipeline the corpus is already written sorted by doc_id
    (our `Database.write_data` sort contract) so the sort is a no-op merge."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    t = d.select("doc_id", n.cast("bigint").alias("n_tokens"))
    c = t.withColumn("start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return c.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / _PACK_BUDGET).cast("bigint").alias("pack_id"),
        (F.col("start_offset") % _PACK_BUDGET).alias("offset_in_pack"),
    ).orderBy("doc_id")


# --- BM25 retrieval ----------------------------------------------------------

_BM25_TERMS = ("spark", "window", "hash")
_K1, _B = 1.2, 0.75


@query(
    "text_bm25_search",
    f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    dl AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
    corpus AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, dl, term,
               len(list_filter(toks, x -> x = term)) AS tf
        FROM dl, unnest(['spark', 'window', 'hash']) AS u(term)
    ),
    df AS (
        SELECT term, COUNT(*) FILTER (WHERE tf > 0) AS df FROM tf GROUP BY term
    ),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ln((corpus.n - df.df + 0.5) / (df.df + 0.5) + 1)
                     * tf.tf * ({_K1} + 1)
                     / (tf.tf + {_K1} * (1 - {_B} + {_B} * tf.dl / corpus.avgdl))
                   AS s
        FROM tf JOIN df USING (term) CROSS JOIN corpus
        WHERE tf.tf > 0
    ),
    total AS (
        SELECT doc_id,
               ROUND(CAST(SUM(CAST(s AS DECIMAL(18,8))) AS DOUBLE), 6) AS score,
               COUNT(*) AS n_terms_hit
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, score, n_terms_hit
    FROM total
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
    tags=("text", "search", "bm25", "llm-pipeline"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75) for the fixed query
    ``spark window hash``: classic idf × saturated-tf scoring with document-
    length normalization, top-20 docs. Corpus stats (N, avgdl, per-term df)
    are two tiny aggregates broadcast back into the per-doc scoring pass; the
    per-doc term sum quantizes each term score to exact DECIMAL(18,8) so
    addition is order-independent (engine-deterministic) while keeping
    map-side partial aggregation. At 100 TB this is the standard two-pass
    scatter/gather retrieval shape — no row explosion beyond docs × |query|."""
    return _bm25_totals(spark, sf_dir).orderBy(
        F.desc("score"), F.asc("doc_id")
    ).limit(20)


def _bm25_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BM25 totals for the fixed query terms (shared by the plain
    BM25 search and the RRF hybrid fusion)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    dl = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    )
    # Persisted: both the df aggregate and the scoring join consume tf; a
    # recompute would scan + tokenize the corpus twice. Post-expansion tf is
    # docs × |query| short rows — tiny next to the corpus text it replaces.
    tf = (
        dl.select(
            "doc_id",
            "dl",
            F.explode(F.array(*[F.lit(t) for t in _BM25_TERMS])).alias("term"),
            "toks",
        )
        .select(
            "doc_id",
            "dl",
            "term",
            F.size(F.filter("toks", lambda x: x == F.col("term"))).alias("tf"),
        )
        .persist()
    )
    df_ = tf.groupBy("term").agg(
        F.count(F.when(F.col("tf") > 0, 1)).alias("df")
    )
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    sat = (
        F.col("tf")
        * (_K1 + 1)
        / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.filter(F.col("tf") > 0)
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", "term", (idf * sat).alias("s"))
    )
    total = scored.groupBy("doc_id").agg(
        F.round(dsum("s", scale=8), 6).alias("score"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    return total


# --- hybrid retrieval: reciprocal rank fusion --------------------------------

_RRF_K = 60
_RRF_DEPTH = 50  # list depth per retriever


_SQL_BM25_TOTALS = """
    t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    dl AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
    corpus AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, dl, term,
               len(list_filter(toks, x -> x = term)) AS tf
        FROM dl, unnest(['spark', 'window', 'hash']) AS u(term)
    ),
    df AS (
        SELECT term, COUNT(*) FILTER (WHERE tf > 0) AS df FROM tf GROUP BY term
    ),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ln((corpus.n - df.df + 0.5) / (df.df + 0.5) + 1)
                     * tf.tf * (1.2 + 1)
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / corpus.avgdl))
                   AS s
        FROM tf JOIN df USING (term) CROSS JOIN corpus
        WHERE tf.tf > 0
    ),
    total AS (
        SELECT doc_id,
               ROUND(CAST(SUM(CAST(s AS DECIMAL(18,8))) AS DOUBLE), 6) AS score,
               COUNT(*) AS n_terms_hit
        FROM scored GROUP BY doc_id
    )
"""


@query(
    "search_rrf_fusion",
    f"""
    WITH {_SQL_BM25_TOTALS},
    lex AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_lex
        FROM (SELECT * FROM total ORDER BY score DESC, doc_id LIMIT {_RRF_DEPTH})
    ),
    qv AS (
        SELECT embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        FROM embeddings WHERE vec_id = 0
    ),
    cos AS (
        SELECT e.vec_id AS doc_id,
               ROUND(list_dot_product(e.embedding::DOUBLE[], qv.v)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * qv.norm), 6) AS cs
        FROM embeddings e CROSS JOIN qv
        WHERE e.vec_id <> 0
    ),
    sem AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id) AS r_sem
        FROM (SELECT * FROM cos ORDER BY cs DESC, doc_id LIMIT {_RRF_DEPTH})
    )
    SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
           r_lex, r_sem,
           ROUND(COALESCE(1.0 / ({_RRF_K} + r_lex), 0)
                 + COALESCE(1.0 / ({_RRF_K} + r_sem), 0), 9) AS rrf_score
    FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 20
    """,
    tags=("search", "hybrid", "rrf", "llm-pipeline"),
)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal rank fusion (k=60): the lexical list
    (BM25 over the fixed query terms) and the semantic list (cosine against
    embedding 0, vec_id keyed to doc_id) each contribute 1/(k+rank); docs
    appearing in either top-{_RRF_DEPTH} list fuse by summed contribution —
    the standard way production search merges keyword and vector retrieval
    without score calibration.

    Determinism: both rankings order by a decimal-rounded score with doc_id
    tie-break, so ranks are engine-exact; the fused score is two exact
    1/(60+r) terms summed in fixed order. Scale shape: each retriever ends
    in TakeOrderedAndProject(depth); ranking windows run on the already-
    top-k (constant-size) relations; the fusion join is depth-bounded."""
    totals = _bm25_totals(spark, sf_dir)
    lex_top = totals.orderBy(F.desc("score"), F.asc("doc_id")).limit(_RRF_DEPTH)
    w_lex = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex = lex_top.select(
        "doc_id", F.row_number().over(w_lex).cast("bigint").alias("r_lex")
    )

    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ))
    base = e.select(F.col("vec_id").alias("doc_id"), v.alias("v"), norm.alias("nrm"))
    qv = base.filter(F.col("doc_id") == 0).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("qv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = (
        base.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("doc_id", F.round(dot / (F.col("nrm") * F.col("qnrm")), 6).alias("cs"))
    )
    sem_top = cos.orderBy(F.desc("cs"), F.asc("doc_id")).limit(_RRF_DEPTH)
    w_sem = Window.orderBy(F.desc("cs"), F.asc("doc_id"))
    sem = sem_top.select(
        "doc_id", F.row_number().over(w_sem).cast("bigint").alias("r_sem")
    )

    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "r_lex",
        "r_sem",
        F.round(
            F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_sem")), F.lit(0.0)),
            9,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(20)


# --- benchmark contamination -------------------------------------------------

_GRAM_N = 5
_BENCH_DOCS = 10  # doc_id < 10 plays the role of the held-out benchmark set


@query(
    "text_contamination",
    f"""
    WITH grams AS (
        SELECT doc_id, unnest(list_distinct({sql_shingles('text', _GRAM_N)})) AS gram
        FROM documents
    ),
    bench AS (
        SELECT DISTINCT gram, 1 AS hit FROM grams WHERE doc_id < {_BENCH_DOCS}
    ),
    scored AS (
        SELECT g.doc_id,
               COUNT(*) AS n_grams,
               COUNT(b.hit) AS n_contaminated
        FROM grams g LEFT JOIN bench b USING (gram)
        WHERE g.doc_id >= {_BENCH_DOCS}
        GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, n_contaminated,
           ROUND(CAST(n_contaminated AS DOUBLE) / n_grams, 6) AS contamination_rate,
           CAST(n_contaminated AS DOUBLE) / n_grams > 0.5 AS flagged
    FROM scored
    ORDER BY doc_id
    """,
    tags=("text", "contamination", "llm-pipeline"),
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: treat docs 0..9 as the held-out eval
    set, build its distinct 5-gram set, and score every training doc by the
    fraction of its distinct 5-grams that appear in the benchmark — the
    n-gram-overlap decontamination step every LLM data pipeline runs before
    training. The benchmark gram set is small by construction (eval sets
    are), so it broadcasts and the per-doc pass is a broadcast left join —
    the 100 TB corpus never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    # Bench and training sides are built from separately-filtered scans (not
    # post-explode filters of one shared gram relation) so the doc_id
    # predicate reaches each parquet scan structurally — the bench branch
    # reads only the handful of benchmark docs at any corpus scale.
    def _grams(docs: DataFrame) -> DataFrame:
        return docs.select(
            "doc_id",
            F.explode(F.array_distinct(shingles("text", _GRAM_N))).alias("gram"),
        )

    bench = (
        _grams(d.filter(F.col("doc_id") < _BENCH_DOCS)).select("gram").distinct()
    )
    # training side: gram explode + broadcast probe are the heavy map —
    # rebalance the single-split fixture scan across cores first (no-op on
    # a many-split corpus; the bench side stays a structurally-filtered
    # scan so its doc_id pushdown is untouched)
    from rtcdb_spark.partitioning import spread

    train = spread(d.filter(F.col("doc_id") >= _BENCH_DOCS))
    hit = _grams(train).join(
        F.broadcast(bench.withColumn("hit", F.lit(1))), "gram", "left"
    )
    scored = hit.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("hit").alias("n_contaminated"),
    )
    rate = F.col("n_contaminated").cast("double") / F.col("n_grams")
    return scored.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        F.round(rate, 6).alias("contamination_rate"),
        (rate > 0.5).alias("flagged"),
    ).orderBy("doc_id")


# --- tokenizer vocabulary ----------------------------------------------------

_VOCAB_SIZE = 500


@query(
    "text_vocab_build",
    f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY token),
    total AS (SELECT SUM(freq) AS tot FROM counts)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS BIGINT) - 1
               AS token_id,
           token, freq,
           ROUND(CAST(freq AS DOUBLE) / tot, 6) AS p
    FROM counts, total
    ORDER BY token_id
    LIMIT {_VOCAB_SIZE}
    """,
    tags=("text", "vocab", "llm-pipeline"),
)
def text_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary induction: corpus-wide token frequencies →
    rank-assigned token ids (frequency desc, token asc for determinism) with
    unigram probabilities — the seed vocabulary a BPE/unigram trainer starts
    from. The shape is one explode + one map-combined count; the ranking
    window only ever sees the distinct-token table, which is vocabulary-
    sized (sub-linear in corpus), never the corpus itself."""
    d = load_table(spark, sf_dir, "documents")
    # Persisted: the scalar total and the ranked output both consume counts;
    # without it each branch re-runs the corpus explode. counts is
    # vocabulary-sized — cheap to cache at any corpus scale.
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .persist()
    )
    total = counts.agg(F.sum("freq").alias("tot"))
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            (F.row_number().over(w).cast("bigint") - 1).alias("token_id"),
            "token",
            "freq",
            F.round(F.col("freq").cast("double") / F.col("tot"), 6).alias("p"),
        )
        .orderBy("token_id")
        .limit(_VOCAB_SIZE)
    )


# --- train/val/test split ----------------------------------------------------


@query(
    "split_train_val_test",
    f"""
    WITH u AS (
        SELECT doc_id, lang,
               CAST({sql_stable_hash_mod("'split:' || CAST(doc_id AS VARCHAR)")}
                    AS DOUBLE) / 2147483647 AS u
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN u < 0.8 THEN 'train'
                WHEN u < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM u
    ORDER BY doc_id
    """,
    tags=("text", "split", "llm-pipeline"),
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: a salted md5 hash of the
    doc id maps to u ∈ [0,1) and fixed thresholds assign the split — stable
    across engines, runs, partitionings, and corpus growth (a doc's split
    never changes when new docs arrive, unlike modulo-on-row-number
    schemes). Map-only at any scale."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        stable_hash_mod(
            F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
        ).cast("double")
        / MERSENNE_P
    )
    return (
        d.select(
            "doc_id",
            "lang",
            F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").alias(
                "split"
            ),
        )
        .orderBy("doc_id")
    )


# --- end-to-end curation funnel ----------------------------------------------


@query(
    "curation_pipeline_funnel",
    f"""
    WITH train AS (
        SELECT doc_id, text, sha256(text) AS digest
        FROM documents WHERE doc_id >= {_BENCH_DOCS}
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM train
    ),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
    rep AS (
        SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_frac
        FROM tc GROUP BY doc_id
    ),
    dup3 AS (
        SELECT doc_id,
               CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / len(g) AS dupf
        FROM (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
                       i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
                   ) AS g
            FROM train
        )
    ),
    quality AS (
        SELECT t.doc_id, t.digest, t.text
        FROM train t
        JOIN rep USING (doc_id) JOIN dup3 USING (doc_id)
        WHERE rep.top_frac <= 0.12 AND dup3.dupf <= 0.55
    ),
    unique_docs AS (
        SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY digest
    ),
    bench_grams AS (
        SELECT DISTINCT gram FROM (
            SELECT unnest(list_distinct({sql_shingles('text', _GRAM_N)})) AS gram
            FROM documents WHERE doc_id < {_BENCH_DOCS}
        )
    ),
    doc_grams AS (
        SELECT q.doc_id,
               unnest(list_distinct({sql_shingles('q.text', _GRAM_N)})) AS gram
        FROM quality q JOIN unique_docs u ON q.doc_id = u.doc_id
    ),
    contam AS (
        SELECT g.doc_id,
               CAST(COUNT(b.gram) AS DOUBLE) / COUNT(*) AS rate
        FROM doc_grams g LEFT JOIN bench_grams b USING (gram)
        GROUP BY g.doc_id
    ),
    clean AS (SELECT doc_id FROM contam WHERE rate <= 0.5)
    SELECT * FROM (
        SELECT 0 AS stage_no, 'raw' AS stage,
               (SELECT COUNT(*) FROM documents) AS n_docs
        UNION ALL SELECT 1, 'train_split',   (SELECT COUNT(*) FROM train)
        UNION ALL SELECT 2, 'quality_pass',  (SELECT COUNT(*) FROM quality)
        UNION ALL SELECT 3, 'exact_unique',  (SELECT COUNT(*) FROM unique_docs)
        UNION ALL SELECT 4, 'decontaminated',(SELECT COUNT(*) FROM clean)
    ) ORDER BY stage_no
    """,
    tags=("llm-pipeline", "funnel", "composition"),
)
def curation_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as one funnel report — survivor counts
    after each stage a production LLM data pipeline runs: eval/train split,
    repetition-quality filter, exact dedup (min-id survivor per digest),
    benchmark decontamination (distinct-5-gram overlap ≤ 0.5). The point is
    COMPOSITION: every stage is one of this engine's audited operators
    chained as plain DataFrames, and the oracle recomputes the identical
    funnel in SQL.

    Scale shape: each stage narrows the corpus before the next (filters are
    map-only; dedup is one digest shuffle; decontamination broadcasts the
    eval-sized gram set), and the five stage counts are scalar aggregates
    unioned into a 5-row report — nothing corpus-sized ever reaches the
    driver."""
    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") >= _BENCH_DOCS).select(
        "doc_id", "text", F.sha2("text", 256).alias("digest")
    )

    tc = (
        train.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rep = tc.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_frac")
    )
    g3 = shingles("text", 3)
    dup3 = train.select(
        "doc_id",
        ((F.size(g3) - F.size(F.array_distinct(g3))).cast("double") / F.size(g3)).alias(
            "dupf"
        ),
    )
    # Persisted: three consumers (stage count, digest dedup, gram explode)
    # would each re-run the repetition scoring joins. Disk-spillable cache of
    # the filtered corpus — the narrowing trade a real pipeline makes too
    # (materialize each stage once, never recompute upstream stages).
    quality = (
        train.join(rep, "doc_id")
        .join(dup3, "doc_id")
        .filter((F.col("top_frac") <= 0.12) & (F.col("dupf") <= 0.55))
        .select("doc_id", "digest", "text")
        .persist()
    )
    unique_docs = quality.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))

    bench_grams = (
        d.filter(F.col("doc_id") < _BENCH_DOCS)
        .select(F.explode(F.array_distinct(shingles("text", _GRAM_N))).alias("gram"))
        .distinct()
    )
    doc_grams = quality.join(
        unique_docs.select("doc_id"), "doc_id"
    ).select(
        "doc_id", F.explode(F.array_distinct(shingles("text", _GRAM_N))).alias("gram")
    )
    contam = doc_grams.join(
        F.broadcast(bench_grams.withColumn("hit", F.lit(1))), "gram", "left"
    ).groupBy("doc_id").agg(
        (F.count("hit").cast("double") / F.count(F.lit(1))).alias("rate")
    )
    clean = contam.filter(F.col("rate") <= 0.5)

    def stage(no: int, name: str, rel: DataFrame) -> DataFrame:
        return rel.agg(
            F.lit(no).cast("int").alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
        )

    return (
        stage(0, "raw", d)
        .unionByName(stage(1, "train_split", train))
        .unionByName(stage(2, "quality_pass", quality))
        .unionByName(stage(3, "exact_unique", unique_docs))
        .unionByName(stage(4, "decontaminated", clean))
        .orderBy("stage_no")
    )


# --- source mixture balancing ------------------------------------------------

_MIX_SCALE = 1_000_000  # hash-rate denominator for deterministic sampling


@query(
    "mixture_balance_sources",
    f"""
    WITH counts AS (
        SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    target AS (SELECT MIN(n) AS target_n FROM counts),
    rated AS (
        SELECT c.source, c.n,
               CAST(t.target_n AS DOUBLE) / c.n AS rate
        FROM counts c CROSS JOIN target t
    ),
    kept AS (
        SELECT d.source, COUNT(*) AS n_kept
        FROM documents d
        JOIN rated r ON d.source = r.source
        WHERE {sql_stable_hash_mod('d.text')} % {_MIX_SCALE}
              < CAST(floor(r.rate * {_MIX_SCALE}) AS BIGINT)
        GROUP BY d.source
    )
    SELECT r.source, r.n AS n_docs, ROUND(r.rate, 6) AS sample_rate,
           COALESCE(k.n_kept, 0) AS n_kept
    FROM rated r LEFT JOIN kept k ON r.source = k.source
    ORDER BY r.source
    """,
    tags=("sampling", "mixture", "llm-pipeline"),
)
def mixture_balance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture balancing: downsample every provenance bucket to the
    smallest bucket's size with a DETERMINISTIC content-hash gate — the data
    mixing step that keeps one crawl from dominating a training run, made
    reproducible (same corpus → same sample, any cluster, any partitioning,
    either engine — the gate is the md5-based portable hash, not rand()).

    Scale shape: per-source counts are one map-combined aggregate; the rate
    table is sources-sized → broadcast; the keep decision is a map-only
    predicate on the corpus scan. Skew-free by construction (hash gate is
    uniform within each source)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    target = counts.agg(F.min("n").alias("target_n"))
    rated = counts.crossJoin(F.broadcast(target)).select(
        "source", "n", (F.col("target_n").cast("double") / F.col("n")).alias("rate")
    )
    # floor() on BOTH engines before the integer threshold: DuckDB's
    # CAST(double AS BIGINT) rounds to nearest while Spark's .cast('bigint')
    # truncates toward zero, so a raw cast diverges by 1 whenever
    # frac(rate*1e6) >= 0.5 — floor is IEEE-exact everywhere (same rationale
    # as embedding_quantize_int8).
    gate = stable_hash_mod("text") % _MIX_SCALE < F.floor(
        F.col("rate") * _MIX_SCALE
    ).cast("bigint")
    kept = (
        d.join(F.broadcast(rated), "source")
        .filter(gate)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rated.join(kept, "source", "left")
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.round("rate", 6).alias("sample_rate"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


@query(
    "text_oov_rate",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok
            ORDER BY freq DESC, tok LIMIT 200
        )
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           COUNT(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
           ROUND(CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE)
                 / COUNT(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    tags=("text", "vocab", "quality", "llm-pipeline"),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's top-200
    token vocabulary — the tokenizer-coverage audit run before committing
    to a vocab size (high OOV docs either need a bigger vocab or are noise).
    The vocabulary is a TakeOrdered top-K of the token counts (vocab-sized
    → broadcast back into the token stream); per-doc OOV is one left join +
    map-combined aggregate."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(200)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
            F.round(
                F.count(F.when(F.col("in_vocab").isNull(), 1)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_ngram_novelty",
    f"""
    WITH grams AS (
        SELECT doc_id, unnest(list_distinct({{sh}})) AS gram
        FROM documents
    ),
    firsts AS (
        SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
    ),
    per_doc AS (
        SELECT g.doc_id,
               COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel
        FROM grams g JOIN firsts f USING (gram)
        GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, n_novel,
           n_novel / n_grams AS novelty
    FROM per_doc
    ORDER BY doc_id
    """.format(sh=sql_shingles("text", 3)),
    tags=("text", "novelty", "llm-pipeline"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve — for each document (in ingestion order), the
    fraction of its distinct 3-gram shingles never seen in any EARLIER
    document: the marginal-value diagnostic behind dataset-growth
    decisions (novelty decaying toward zero means more of the same
    source adds nothing) and a per-source acquisition score. Exactly the
    exact-dedup shuffle shape: one gram-key aggregate takes each gram's
    first doc_id, joins back to the gram stream (shuffle equi-join, AQE
    may broadcast after collapse), and one doc-key aggregate counts
    firsts. Pure integer arithmetic until one final IEEE division."""
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.explode(F.array_distinct(shingles("text", 3))).alias("gram")
    )
    firsts = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(firsts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        (F.col("n_novel") / F.col("n_grams")).alias("novelty"),
    ).orderBy("doc_id")


# --- DSIR-style importance resampling ---------------------------------------

_DSIR_B = 256  # hashed-feature buckets; collisions are part of the estimator


@query(
    "text_importance_resample",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, {sql_stable_hash_mod('tok')} % {_DSIR_B} AS b
        FROM (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents
        )
    ),
    hist AS (
        SELECT b, COUNT(*) AS rc,
               COUNT(*) FILTER (WHERE lang = 'en') AS tc
        FROM toks GROUP BY b
    ),
    tot AS (
        SELECT CAST(SUM(rc) AS DOUBLE) + {_DSIR_B} AS rtot,
               CAST(SUM(tc) AS DOUBLE) + {_DSIR_B} AS ttot
        FROM hist
    ),
    wts AS (
        SELECT h.b,
               CAST(ln(((CAST(h.tc AS DOUBLE) + 1) / tot.ttot)
                       / ((CAST(h.rc AS DOUBLE) + 1) / tot.rtot))
                    AS DECIMAL(18,8)) AS w
        FROM hist h CROSS JOIN tot
    )
    SELECT doc_id, n_tokens, score, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT s.doc_id, s.n_tokens, s.score,
               ROW_NUMBER() OVER (ORDER BY s.score DESC, s.doc_id) AS rnk
        FROM (
            SELECT tk.doc_id,
                   COUNT(*) AS n_tokens,
                   ROUND(CAST(SUM(w.w) AS DOUBLE), 6) AS score
            FROM toks tk JOIN wts w ON tk.b = w.b
            GROUP BY tk.doc_id
        ) s
    ) WHERE rnk <= 50
    ORDER BY rnk
    """,
    tags=("text", "llm-pipeline", "importance-sampling", "curation"),
)
def text_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-flavored data selection (Xie et al., NeurIPS 2023): score every
    document by its hashed-n-gram importance weight — the log-ratio of a
    target-domain unigram model (here: the English slice standing in for a
    curated domain) to the raw-corpus model, summed over the document's
    tokens — then take the top of the ranking as the resampled training
    set. Hashed buckets (B=256, md5-based cross-engine hash) bound
    the feature table regardless of vocabulary size — the core DSIR trick.

    Determinism: per-bucket log-ratio is quantized to DECIMAL(18,8) once
    (same pin as text_unigram_nll), so the per-doc sum is exact in any
    aggregation order; Laplace +1 smoothing keeps every bucket finite.
    Scale shape: bucket histograms are B-row aggregates → the weight table
    broadcasts back into the token stream; the corpus shuffles once, on
    doc_id, with map-side combine; top-50 is TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).select("doc_id", "lang", (stable_hash_mod("tok") % _DSIR_B).alias("b"))
    # Both histograms in ONE token-stream pass (conditional aggregate) —
    # the raw/target split as separate aggregates re-scanned the exploded
    # corpus; this halves the scans (profiled: 11 exchanges -> fewer, and
    # the bucket table stays B rows either way).
    hist = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("rc"),
        F.count_if(F.col("lang") == "en").alias("tc"),
    )
    tot = hist.agg(
        (F.sum("rc").cast("double") + _DSIR_B).alias("rtot"),
        (F.sum("tc").cast("double") + _DSIR_B).alias("ttot"),
    )
    wts = (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.log(
                ((F.col("tc").cast("double") + 1) / F.col("ttot"))
                / ((F.col("rc").cast("double") + 1) / F.col("rtot"))
            )
            .cast("decimal(18,8)")
            .alias("w"),
        )
    )
    scored = (
        toks.join(F.broadcast(wts), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("w").cast("double"), 6).alias("score"),
        )
    )
    # Top-50 via orderBy+limit so the plan is TakeOrderedAndProject (a
    # per-partition heap + driver merge of 50-row tops) — a row_number
    # window here would global-sort every scored doc on one partition.
    # The rank column is assigned AFTER the limit, over 50 rows.
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(50)
    w_rank = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rnk", F.row_number().over(w_rank).cast("bigint")).orderBy(
        "rnk"
    )


# --- Zipf law fit ------------------------------------------------------------

_ZIPF_TOP = 100  # fit over the head ranks (the law holds there; tail is noisy)


@query(
    "text_zipf_fit",
    f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY token),
    ranked AS (
        SELECT token, freq,
               CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS BIGINT)
                   AS rank
        FROM counts
        ORDER BY freq DESC, token ASC
        LIMIT {_ZIPF_TOP}
    ),
    pts AS (
        SELECT token, freq, rank,
               CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(18,8)) AS x,
               CAST(ln(CAST(freq AS DOUBLE)) AS DECIMAL(18,8)) AS y
        FROM ranked
    ),
    fit AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(x * y) AS DOUBLE) AS sxy
        FROM pts
    ),
    ab AS (
        SELECT n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS intercept
        FROM fit
    )
    SELECT p.rank, p.token, p.freq,
           ROUND(ab.slope, 6) AS zipf_slope,
           ROUND(CAST(p.y AS DOUBLE)
                 - (ab.intercept + ab.slope * CAST(p.x AS DOUBLE)), 6)
               AS log_residual
    FROM pts p CROSS JOIN ab
    ORDER BY p.rank
    """,
    tags=("text", "statistics", "zipf", "llm-pipeline"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the vocabulary head: log-log OLS of frequency
    against rank for the top-100 tokens. The slope (~-1 on natural text)
    is the classic corpus health check — a synthetic or template-heavy
    corpus flattens it, boilerplate steepens it — and the per-token
    residuals localize WHERE the law breaks.

    Determinism: log points quantize to DECIMAL(18,8) once; the OLS moment
    sums are exact decimal products (scale 16, inside DECIMAL(38)); slope
    and intercept are one shared double composition, identically written
    on both engines (same trick as agg_corr_regression). Scale shape: the
    corpus collapses to vocabulary-sized counts map-side; the ranking
    window and fit both run on the top-100 — a TakeOrderedAndProject, not
    a global sort."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = counts.orderBy(F.desc("freq"), F.asc("token")).limit(_ZIPF_TOP)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    pts = (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .withColumn("x", F.log(F.col("rank").cast("double")).cast("decimal(18,8)"))
        .withColumn("y", F.log(F.col("freq").cast("double")).cast("decimal(18,8)"))
        .persist()
    )
    fit = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    ab = fit.select(
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / nd).alias("intercept"),
    )
    return (
        pts.crossJoin(F.broadcast(ab))
        .select(
            "rank",
            "token",
            "freq",
            F.round("slope", 6).alias("zipf_slope"),
            F.round(
                F.col("y").cast("double")
                - (F.col("intercept") + F.col("slope") * F.col("x").cast("double")),
                6,
            ).alias("log_residual"),
        )
        .orderBy("rank")
    )


# --- temperature-based language mixture --------------------------------------

_MIX_ALPHA = 0.5  # sampling temperature exponent (sqrt: IEEE-exact everywhere)


@query(
    "text_language_temperature_mix",
    f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(n) AS t FROM counts),
    powed AS (
        SELECT c.lang, c.n,
               CAST(sqrt(CAST(c.n AS DOUBLE) / tot.t) AS DECIMAL(18,9)) AS pa
        FROM counts c CROSS JOIN tot
    ),
    z AS (SELECT SUM(pa) AS s FROM powed)
    SELECT p.lang,
           CAST(p.n AS BIGINT) AS n_docs,
           ROUND(CAST(p.n AS DOUBLE) / tot.t, 9) AS p_raw,
           ROUND(CAST(p.pa AS DOUBLE) / CAST(z.s AS DOUBLE), 9) AS p_sampled,
           ROUND((CAST(p.pa AS DOUBLE) / CAST(z.s AS DOUBLE))
                 / (CAST(p.n AS DOUBLE) / tot.t), 9) AS boost
    FROM powed p CROSS JOIN tot CROSS JOIN z
    ORDER BY p.lang
    """,
    tags=("text", "llm-pipeline", "mixture", "multilingual"),
)
def text_language_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual sampling (the p^α reweighting from
    multilingual LM training — α=1 keeps the natural skew, α→0 goes
    uniform; α=0.5 here, i.e. sqrt, which is correctly rounded by IEEE on
    every engine): per language, the raw corpus share, the resampled
    share p^α/Σp^α, and the boost factor low-resource languages receive.
    Feed the rates to `mixture_balance_sources`' deterministic hash gate
    to materialize the resampled corpus.

    Determinism: per-language p^α quantizes to DECIMAL(18,9) before the
    normalizer sum (order-free); every emitted double is a fixed division
    chain rounded at 9. Scale shape: one map-combined language histogram;
    everything downstream is language-cardinality (≤ dozens of rows)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    powed = counts.crossJoin(F.broadcast(tot)).withColumn(
        "pa", F.sqrt(F.col("n").cast("double") / F.col("t")).cast("decimal(18,9)")
    )
    z = powed.agg(F.sum("pa").alias("s"))
    p_raw = F.col("n").cast("double") / F.col("t")
    p_samp = F.col("pa").cast("double") / F.col("s").cast("double")
    return (
        powed.crossJoin(F.broadcast(z))
        .select(
            "lang",
            F.col("n").cast("bigint").alias("n_docs"),
            F.round(p_raw, 9).alias("p_raw"),
            F.round(p_samp, 9).alias("p_sampled"),
            F.round(p_samp / p_raw, 9).alias("boost"),
        )
        .orderBy("lang")
    )


@query(
    "split_leakage_safe",
    f"""
    WITH keyed AS (
        SELECT doc_id, md5(lower(trim(text))) AS content_key
        FROM documents
    ),
    assigned AS (
        SELECT doc_id, content_key,
               CASE WHEN CAST({sql_stable_hash_mod("'lsplit:' || content_key")}
                         AS DOUBLE) / 2147483647 < 0.8 THEN 'train'
                    WHEN CAST({sql_stable_hash_mod("'lsplit:' || content_key")}
                         AS DOUBLE) / 2147483647 < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM keyed
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT content_key) AS BIGINT) AS n_contents,
           CAST((SELECT COUNT(*) FROM (
               SELECT content_key FROM assigned
               GROUP BY content_key HAVING COUNT(DISTINCT split) > 1
           )) AS BIGINT) AS n_leaked_groups
    FROM assigned
    GROUP BY split
    ORDER BY split
    """,
    tags=("text", "split", "dedup", "leakage", "llm-pipeline"),
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split key is the hash of the
    normalized CONTENT, not the row id, so exact/normalized duplicates
    always land in the same split — the guard that stops a training doc's
    duplicate from appearing in the eval split and inflating benchmarks
    (split-by-row-id schemes leak precisely this way). Emitted per split:
    doc and distinct-content counts plus the number of content groups
    straddling splits, which the construction forces to ZERO — the oracle
    recomputes all three, so the hash match proves both the assignment
    function and the no-leak invariant. Map-only + one aggregate at any
    scale; for NEAR-duplicate safety, feed the connected-component group
    id from the dedup layer through the same hash (same plan shape)."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("content_key")
    )
    u = (
        stable_hash_mod(
            F.concat(F.lit("lsplit:"), F.col("content_key"))
        ).cast("double")
        / MERSENNE_P
    )
    assigned = keyed.withColumn(
        "split",
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test"),
    ).persist()
    leaked = (
        assigned.groupBy("content_key")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).alias("n_leaked"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("content_key").cast("bigint").alias("n_contents"),
        )
        .crossJoin(F.broadcast(leaked))
        .select(
            "split",
            "n_docs",
            "n_contents",
            F.col("n_leaked").cast("bigint").alias("n_leaked_groups"),
        )
        .orderBy("split")
    )


@query(
    "text_bigram_perplexity",
    """
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts
        FROM documents
    ),
    bi AS (
        SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        FROM toks, unnest(generate_series(1, len(ts) - 1)) AS t(i)
        WHERE len(ts) >= 2
    ),
    bi_doc AS (
        SELECT doc_id, w1, w2, COUNT(*) AS n_dw FROM bi GROUP BY 1, 2, 3
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bi GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS n1 FROM bi GROUP BY 1),
    v AS (
        SELECT COUNT(DISTINCT w) AS vocab
        FROM (SELECT unnest(ts) AS w FROM toks)
    ),
    lm AS (
        SELECT w1, w2,
               -ln(CAST(2 * c2.n2 + 1 AS DOUBLE)
                   / CAST(2 * c1.n1 + v.vocab AS DOUBLE)) AS nll
        FROM c2 JOIN c1 USING (w1) CROSS JOIN v
    )
    SELECT bi_doc.doc_id,
           CAST(SUM(n_dw) AS BIGINT) AS n_bigrams,
           ROUND(SUM(n_dw * nll) / SUM(n_dw), 9) AS avg_nll,
           ROUND(SUM(n_dw * nll) / SUM(n_dw), 9) > 6.0 AS is_flagged
    FROM bi_doc
    JOIN lm USING (w1, w2)
    GROUP BY bi_doc.doc_id
    ORDER BY bi_doc.doc_id
    """,
    tags=("text", "llm", "perplexity", "quality"),
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/Gopher-style perplexity filtering with a corpus-trained
    bigram LM (round 5): train add-1/2-smoothed bigram probabilities ON
    the corpus itself (bigram counts, unigram context counts, vocabulary
    size), then score every document by its mean negative log-likelihood
    and flag the high-perplexity tail — the classic statistical-LM quality
    gate run before expensive neural filtering.

    Determinism: every probability is ONE IEEE-754 division of exact
    integers ((2*c2+1)/(2*c1+V) — add-k smoothing with k=1/2 cleared to
    integers), `ln` of identical doubles agrees across engines to <=1 ulp,
    and the per-doc mean is rounded to 9 decimals (the repo's established
    log-determinism pattern).

    Scale shape (100 TB): the LM "training" is two hash aggregates over
    the corpus bigrams (map-side partial) plus a 1-row vocabulary count.
    Scoring never re-joins the raw bigram STREAM against anything:
    per-distinct-bigram NLL is computed on the VOCABULARY-sized c2⋈c1
    join, and the per-doc aggregate reduces the stream to distinct
    (doc, bigram) counts first — so every join operand is
    bigram-vocabulary-sized, the same class as TF-IDF's tables, while the
    corpus-sized stream is touched only by hash aggregates. No
    driver-side model state: the "model" stays distributed, which is
    exactly how n-gram LM filtering runs on web-scale corpora."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # Tokenize ONCE and cut lineage with an eager localCheckpoint:
    # DataFrame reuse does not dedupe physical subtrees, so the
    # pre-optimization plan re-ran the regex+explode scan for every
    # consumer (bi_doc, the c2 LM branch, the vocabulary count — 26
    # Exchanges, regexp_extract_all evaluated 3-4x per doc; see
    # plans/r12/text_bigram_perplexity_before.txt). localCheckpoint
    # instead of persist (round 13): the blocks are freed by the
    # ContextCleaner once the returned DataFrame is dropped, where the
    # round-12 persist() stayed in the CacheManager for the session's
    # lifetime (VERDICT r12 item 3).
    toks = d.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("ts"),
    ).localCheckpoint()
    bi = (
        toks.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.expr(
                "transform(slice(ts, 1, size(ts) - 1),"
                " (w, i) -> struct(w AS w1, ts[i + 1] AS w2))"
            ).alias("bs"),
        )
        .select("doc_id", F.explode("bs").alias("b"))
        .select("doc_id", "b.w1", "b.w2")
    )
    bi_doc = bi.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("n_dw")
    )
    v = toks.select(F.explode("ts").alias("w")).agg(
        F.countDistinct("w").alias("vocab")
    )
    # LM training is a hash aggregate over the corpus bigram stream with
    # map-side partial aggregation (c2 — the skew-safe reduction: a hot
    # context like "the" is combined per map task BEFORE the exchange).
    # The context totals n1 come from a window over the AGGREGATED,
    # vocabulary-sized c2 table, so the window partition for any w1 is
    # bounded by that context's distinct-successor count (vocabulary-
    # bounded), never by its corpus frequency — the round-12 form put the
    # window directly on per-doc bigram rows, where one Zipfian context
    # owned a corpus-bounded partition with no partial aggregation
    # (VERDICT r12 item 3 / ADVICE). Scoring re-attaches the
    # vocabulary-sized LM by an equi-join on (w1, w2) — broadcast when it
    # fits, AQE-skew-splittable sort-merge beyond that. Same add-k
    # arithmetic on the same integers, identical doubles.
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    lm = (
        c2.withColumn("n1", F.sum("n2").over(Window.partitionBy("w1")))
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            (
                -F.log(
                    (2 * F.col("n2") + 1).cast("double")
                    / (2 * F.col("n1") + F.col("vocab")).cast("double")
                )
            ).alias("nll"),
        )
    )
    scored = bi_doc.join(lm, ["w1", "w2"])
    avg_nll = F.round(
        F.sum(F.col("n_dw") * F.col("nll")) / F.sum("n_dw"), 9
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("n_dw").cast("bigint").alias("n_bigrams"),
            avg_nll.alias("avg_nll"),
            (avg_nll > 6.0).alias("is_flagged"),
        )
        .orderBy("doc_id")
    )


@query(
    "curation_shuffle_shards",
    """
    WITH keyed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS k
        FROM documents
    )
    SELECT doc_id,
           CAST(k % 8 AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY k % 8 ORDER BY k, doc_id)
                AS BIGINT) AS pos
    FROM keyed
    ORDER BY shard, pos
    """,
    tags=("llm", "curation", "shuffle", "shards"),
)
def curation_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded global shuffle into training shards (round 5):
    the step that MATERIALIZES training-data order. Each document gets an
    engine-portable 60-bit key from md5(seed || doc_id); the key's residue
    picks one of 8 shards and the key order fixes the position within the
    shard — so the exact byte order a trainer reads is reproducible from
    (corpus, seed) alone, across engines and across reruns, and changing
    the seed epoch re-shuffles with zero data movement beyond the
    re-write. Every training-data paper's ablation depends on this
    property; a nondeterministic engine shuffle cannot provide it.

    Scale shape (100 TB): one hash exchange on the shard id + a
    within-shard sort — at real scale shard count is chosen so each shard
    is one writer task's output (thousands of shards), which is exactly a
    `repartitionByRange`-free, skew-immune (md5 keys are uniform)
    distributed sort. No driver state."""
    from rtcdb_spark.functions.text import stable_hash60

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        stable_hash60(
            F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string"))
        ).alias("k"),
    )
    w = Window.partitionBy(F.col("k") % 8).orderBy("k", "doc_id")
    return (
        keyed.select(
            "doc_id",
            (F.col("k") % 8).cast("bigint").alias("shard"),
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
        .orderBy("shard", "pos")
    )
