"""Training-data preparation operators: token chunking, distinctive
terms, behavioral transition model, vocabulary spectrum, and
embedding-space (semantic) deduplication.

These extend the LLM-pipeline surface (SURVEY.md §2.5 north-star ops)
with the steps that sit between a curated corpus and a training run:
cutting documents into model-context-sized chunks, profiling what makes
a source distinctive, and dropping semantically redundant items the
text-level dedups (MinHash/SimHash — operators/dedup.py) cannot see.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from ..operators.scale import widen
from ..operators.similarity import IVF_NCENTROIDS
from ..functions.vectors import dot, norm
from ..registry import register
from .sketch_q import cms_bucket

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # < CHUNK_TOKENS -> overlapping context windows

_TOKS_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"


@register(
    "chunk_documents",
    oracle=f"""
WITH t AS (
    SELECT doc_id, {_TOKS_SQL} AS toks, len({_TOKS_SQL}) AS n
    FROM documents
), s AS (
    SELECT doc_id, toks, n,
           unnest(generate_series(0, CAST(n - 1 AS BIGINT), {CHUNK_STRIDE}))
               AS start
    FROM t
)
SELECT doc_id,
       CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(start AS BIGINT) AS start_tok,
       CAST(LEAST({CHUNK_TOKENS}, n - start) AS BIGINT) AS n_tok,
       array_to_string(toks[start + 1 : start + {CHUNK_TOKENS}], ' ')
           AS chunk_text
FROM s
""",
)
def chunk_documents(spark, sf_dir):
    """Strided token chunking — the sequence-prep step that turns a
    document into model-context-sized windows (here {CHUNK_TOKENS}
    tokens with stride {CHUNK_STRIDE}, so consecutive chunks overlap by
    {CHUNK_TOKENS - CHUNK_STRIDE} tokens of context).

    Scale: one projection + one posexplode — no shuffle, no window; the
    fan-out per document is ceil(n_tokens / stride) rows whose text
    slices reference the already-tokenized array. At 100 TB this is a
    pure map stage that chains onto the curation output and writes
    straight to the packed-sequence step (pipeline_q.pack_sequences).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    starts = F.sequence(
        F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE)
    )
    return base.select(
        "doc_id",
        "toks",
        "n",
        F.posexplode(starts).alias("chunk_id", "start"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col("start").cast("bigint").alias("start_tok"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("start"))
        .cast("bigint")
        .alias("n_tok"),
        F.array_join(
            F.slice("toks", F.col("start") + 1, F.lit(CHUNK_TOKENS)), " "
        ).alias("chunk_text"),
    )


TFIDF_TOP_K = 5


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, source, unnest({_TOKS_SQL}) AS token
    FROM documents
), tok2 AS (
    SELECT doc_id, source, token FROM tok WHERE token <> ''
), tf AS (
    SELECT source, token, COUNT(*) AS tf
    FROM tok2 GROUP BY source, token
), df AS (
    SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok2 GROUP BY token
), scored AS (
    SELECT tf.source, tf.token, tf.tf, df.df,
           CAST(tf.tf * (SELECT COUNT(*) FROM documents) // df.df AS BIGINT)
               AS score
    FROM tf JOIN df ON df.token = tf.token
)
SELECT source, token, tf, df, score, CAST(rn AS BIGINT) AS rn
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY score DESC, token) AS rn
    FROM scored
)
WHERE rn <= {TFIDF_TOP_K}
""",
)
def tfidf_top_terms(spark, sf_dir):
    """Most distinctive terms per source: tf-idf with a LINEAR inverse
    document frequency — score = tf * N_docs // df in exact integer
    arithmetic (a log idf would put a cross-engine float knife-edge
    under the ranking; the linear variant orders rare-but-frequent-here
    terms the same way and stays bit-stable). Top {TFIDF_TOP_K} per
    source, ties on token.

    Scale: the corpus is tokenized, exploded, and aggregated in ONE
    linear chain — (token, source, doc_id) rollup, then (source, token)
    rollup carrying BOTH the term frequency (sum of counts) and the
    per-source document count. Document frequency is a WINDOW SUM of
    those per-source doc counts over partitionBy(token) (a doc has
    exactly one source): each token's partition group is <= n_sources
    rows, so the window is bounded and skew-free at any corpus size,
    and it replaces the r8 shape's df re-aggregation + token-keyed join
    (two extra exchanges — measured sf0.1 warm path 10 -> 7 jobs,
    1.95 -> 1.14 s bench min-of-2; identical rows). No second tokenize pass, no
    checkpoint, no corpus-sized shuffle past the first two. The
    per-source ranking compiles to WindowGroupLimit (per-partition
    top-K before the shuffle), so the full vocabulary never sorts
    globally. The N_docs scalar joins in as a broadcast literal row.
    """
    d = load_table(spark, sf_dir, "documents")
    # widen() TRIED AND REVERTED (r9): the tokenize+explode map side
    # of the first aggregation runs on the scan's 2 tasks at the sf1
    # single-file layout (stage census: 2.19 s runtime in a 2-task
    # stage), and widening it measured sf1/32c 3.39 -> 2.93 s but
    # sf0.1 1.14 -> 3.09 s — shuffling raw text costs more than the
    # tokenize parallelism buys at bench scale, unlike the 3-regex
    # PII scans where widen pays at both scales. The narrowness is
    # the probe layout's row-group bound (docs/SCALING_CURVE.json
    # row_groups), gone at any production split count.
    tok = (
        d.select(
            "doc_id",
            "source",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"),
        )
        .where(F.col("token") != "")
    )
    g1 = tok.groupBy("token", "source", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    tf = g1.groupBy("source", "token").agg(
        F.sum("c").alias("tf"), F.count(F.lit(1)).alias("n_docs_st")
    )
    n_docs = d.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    wt = Window.partitionBy("token")
    scored = (
        tf.withColumn("df", F.sum("n_docs_st").over(wt))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "source",
            "token",
            "tf",
            "df",
            F.expr("CAST(tf * n_total div df AS BIGINT)").alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= TFIDF_TOP_K)
        .select("source", "token", "tf", "df", "score", "rn")
    )


@register(
    "session_transitions",
    oracle="""
WITH s AS (
    -- an event with no timestamp has no position in the stream:
    -- dropped on both engines (the engines also disagree on NULL
    -- placement under ASC ordering, so keeping them is undefined)
    SELECT user_id, event_type AS from_et,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_et
    FROM events WHERE ts IS NOT NULL
), c AS (
    SELECT from_et, to_et, COUNT(*) AS n
    FROM s WHERE to_et IS NOT NULL
    GROUP BY from_et, to_et
)
SELECT from_et, to_et, n,
       CAST(n * 1000 // SUM(n) OVER (PARTITION BY from_et) AS BIGINT)
           AS permille
FROM c
""",
)
def session_transitions(spark, sf_dir):
    """First-order behavioral model: event-type bigram counts and
    per-origin transition permilles over each user's time-ordered
    stream (LEAD over (user, ts)) — the Markov-chain view of the
    clickstream that funnels and retention queries summarize.

    Scale: the heavy window partitions by user_id (high-cardinality,
    uniform); everything after operates on the |event_types|^2 bigram
    table, which is tiny by construction. Permille is integer-exact —
    no float division under the oracle hash.
    
    Hot-key note: like every user_id-windowed query, a bot-grade user
    concentrates this plan's shuffle into one task; the bounded-state
    remedy (bucket phase 1 by time, merge bounded per-user lists) is
    implemented and probe-measured in operators/sessionize.py +
    docs/SKEW_PROBE.json and applies to this shape unchanged.
    """
    # NULL-ts events have no position in the time-ordered stream
    e = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("from_et"),
            F.lead("event_type").over(w).alias("to_et"),
        )
        .where(F.col("to_et").isNotNull())
        .groupBy("from_et", "to_et")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("from_et")
    # integer `div`, not float `/` + cast: a quotient landing within an
    # ulp of an integer would truncate differently across engines
    return (
        pairs.withColumn("_tot", F.sum("n").over(tot))
        .withColumn("permille", F.expr("CAST((n * 1000) div _tot AS BIGINT)"))
        .select("from_et", "to_et", "n", "permille")
    )


@register(
    "token_freq_spectrum",
    oracle=f"""
WITH tok AS (
    SELECT unnest({_TOKS_SQL}) AS token FROM documents
), tc AS (
    SELECT token, COUNT(*) AS c FROM tok WHERE token <> '' GROUP BY token
)
SELECT c AS freq, COUNT(*) AS n_tokens
FROM tc GROUP BY c
""",
)
def token_freq_spectrum(spark, sf_dir):
    """Frequency-of-frequencies (the Zipf/Good-Turing spectrum): how
    many distinct tokens occur exactly c times. The one-glance corpus
    diagnostic for vocabulary health — a missing singleton tail or a
    spike at one frequency means degenerate or templated text.

    Scale: two cascaded aggregations, each with map-side partial
    combine; the second groups the (token, count) table by count — a
    key space no wider than the max token frequency.
    """
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token")
        )
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tc.groupBy(F.col("c").alias("freq")).agg(
        F.count(F.lit(1)).alias("n_tokens")
    )


VOCAB_V = 16  # small enough that the driver corpus has real OOV tokens


@register(
    "vocab_encode",
    oracle=f"""
WITH t AS (
    -- NULL text has no token sequence: dropped on both engines (the
    -- oracle's unnest would silently drop it anyway; the Spark side
    -- would keep a NULL-ids row — engines must agree explicitly)
    SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    WHERE text IS NOT NULL
), counts AS (
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(toks) AS token FROM t)
    WHERE token <> '' GROUP BY token
), vocab AS (
    SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT)
               AS id
    FROM counts
    QUALIFY id <= {VOCAB_V}
), pos AS (
    SELECT doc_id, toks,
           unnest(generate_series(1, CAST(len(toks) AS BIGINT), 1)) AS i
    FROM t
), enc AS (
    SELECT pos.doc_id, pos.i, COALESCE(v.id, 0) AS id
    FROM pos LEFT JOIN vocab v ON v.token = pos.toks[i]
)
SELECT doc_id,
       COUNT(*) AS n_tok,
       CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       string_agg(CAST(id AS VARCHAR), ' ' ORDER BY i) AS ids
FROM enc GROUP BY doc_id
""",
)
def vocab_encode(spark, sf_dir):
    """Tokenizer-style vocabulary encoding: rank the top {VOCAB_V}
    tokens into an id table (1-based by frequency, ties on token;
    everything else is OOV id 0) and encode every document as its
    token-id sequence — the last text-side step before sequences
    become model input.

    Scale: the vocabulary is aggregated once, collected (V rows — by
    construction tiny), and shipped to the corpus rows as either a
    literal map (small V) or a one-row broadcast map (real 50k-token
    vocab) — encode_with_vocab routes by size, same dispatch as the
    IVF centroids. Encoding is then a pure per-row ``transform``
    projection: no explode, no shuffle on the corpus side either way.
    The id sequence is emitted as a space-joined string (the driver
    canonicalizer hashes scalars, and parity on the string pins every
    position).
    """
    # NULL text has no token sequence (matches the oracle's WHERE)
    d = widen(
        load_table(spark, sf_dir, "documents").where(
            F.col("text").isNotNull()
        )
    )
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    counts = (
        d.select(F.explode(toks).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # r12: rank the vocabulary IN the plan — the collect() shipped V
    # rows to the driver only to re-inject them as a literal map,
    # paying a separate TakeOrdered job + result serialization inside
    # every construction (guide §5: the driver should do no data work).
    # TakeOrderedAndProject still bounds the distributed top-K; the
    # row_number over the V survivors is a V-row window; the map ships
    # back as the same one-row broadcast encode_with_vocab builds.
    from pyspark.sql import Window

    top_v = counts.orderBy(F.col("n").desc(), "token").limit(VOCAB_V)
    vocab = top_v.select(
        "token",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), "token"))
        .alias("id"),
    )
    return encode_with_vocab_df(d, vocab)


# Above this many vocab entries the token->id map ships as a one-row
# broadcast relation instead of plan literals (a 50k-token map inlined
# as literals is megabytes of plan re-parsed per query).
VOCAB_LITERAL_MAX = 1024


def encode_with_vocab_df(d, vocab):
    """Encode documents against an in-plan (token, id) vocabulary frame:
    pack it into a one-row broadcast map and project — the map never
    touches the driver (r12; the query path's ranking stays inside the
    one DAG instead of a collect + literal re-injection)."""
    packed = vocab.agg(
        F.map_from_entries(F.collect_list(F.struct("token", "id"))).alias(
            "_vmap"
        )
    )
    return _encode(d.join(F.broadcast(packed)), F.col("_vmap"))


def encode_with_vocab(d, top, mode: str | None = None):
    """Encode documents against a ranked vocabulary ``top`` (list of
    (token, freq), already sorted). Literal-map below
    VOCAB_LITERAL_MAX entries, broadcast-map above; identical results
    (the map content is the same — only its transport differs)."""
    if mode is None:
        mode = "literal" if len(top) <= VOCAB_LITERAL_MAX else "broadcast"
    if mode == "broadcast":
        return encode_with_vocab_df(
            d,
            d.sparkSession.createDataFrame(
                [(tokn, i + 1) for i, (tokn, _) in enumerate(top)],
                "token string, id int",
            ),
        )
    else:
        vmap = F.create_map(
            *[
                lit
                for i, (tokn, _) in enumerate(top)
                for lit in (F.lit(tokn), F.lit(i + 1))
            ]
        )
        return _encode(d, vmap)


def _encode(d, vmap):
    """The shared encode projection over a token->id map Column."""
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    # try_element_at: plain map[key] / element_at raise under ANSI mode
    # when the token is out-of-vocabulary — OOV must map to null -> 0
    ids = F.transform(
        toks, lambda t: F.coalesce(F.try_element_at(vmap, t), F.lit(0))
    )
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tok"),
        F.size(F.filter(ids, lambda i: i == 0)).cast("bigint").alias("n_oov"),
        F.array_join(
            F.transform(ids, lambda i: i.cast("string")), " "
        ).alias("ids"),
    )


CMS_D = 4  # sketch depth (hash rows)
CMS_W = 64  # sketch width (buckets per row)
HH_K = 10  # heavy hitters to probe


def _cms_oracle() -> str:
    from .pipeline_q import _hash32_duck

    return f"""
WITH counts AS (
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest({_TOKS_SQL}) AS token FROM documents)
    WHERE token <> '' GROUP BY token
), rows_ AS (
    SELECT s, token, n,
           {_hash32_duck("CAST(s AS VARCHAR) || '|' || token")} % {CMS_W}
               AS b
    FROM counts CROSS JOIN range({CMS_D}) r(s)
), sketch AS (
    SELECT s, b, SUM(n) AS cnt FROM rows_ GROUP BY s, b
), topk AS (
    SELECT token, n FROM counts
    QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, token) <= {HH_K}
)
SELECT t.token, t.n, CAST(MIN(sk.cnt) AS BIGINT) AS est
FROM topk t
JOIN rows_ r ON r.token = t.token
JOIN sketch sk ON sk.s = r.s AND sk.b = r.b
GROUP BY t.token, t.n
"""


@register("cms_heavy_hitters", oracle=_cms_oracle())
def cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch (Cormode & Muthukrishnan 2005) probed at the
    exact heavy hitters: build a {CMS_D}x{CMS_W} sketch from seeded
    portable 32-bit hashes and compare each top-{HH_K} token's exact
    count with its sketch estimate (min over rows). est >= n always —
    the one-sided error the sketch guarantees — and the gap is the
    collision noise (tests pin both).

    Scale: the sketch is the fixed-size mergeable summary for streaming
    heavy hitters — D*W cells no matter the vocabulary, built here with
    one groupBy(s, bucket) whose partial aggregation does the merging
    map-side. Building from pre-aggregated counts is equivalent to
    updating per occurrence (the sketch is linear in its input); a
    streaming job updates the same cells from the raw token stream.
    The hash is the daily CMS zone's (sketch_q.py::cms_bucket, the
    repo-wide md5-nibble construction) so DuckDB re-derives identical
    buckets.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token")
        )
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = counts.select(
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("s"),
        "token",
        "n",
    ).withColumn("b", cms_bucket("token", CMS_W))
    sketch = rows.groupBy("s", "b").agg(F.sum("n").alias("cnt"))
    topk = counts.orderBy(F.col("n").desc(), "token").limit(HH_K)
    probe = rows.join(F.broadcast(topk.select("token")), "token")
    return (
        probe.join(F.broadcast(sketch), ["s", "b"])
        .groupBy("token")
        .agg(F.max("n").alias("n"), F.min("cnt").alias("est"))
        .select("token", "n", F.col("est").cast("bigint").alias("est"))
    )


SEMDEDUP_TAU = 0.35  # driver-data dial; production embeddings use ~0.9
_E = "CAST(embedding AS DOUBLE[])"


def _semdedup_oracle() -> str:
    from .similarity_q import IVF_KMEANS_ITERS, _ivf_ctes

    return f"""
WITH e AS (
    SELECT vec_id, {_E} AS v,
           sqrt(list_dot_product({_E}, {_E})) AS nrm
    FROM embeddings
),
{_ivf_ctes(IVF_NCENTROIDS, IVF_KMEANS_ITERS)},
cells AS (
    SELECT vec_id, centroid_id FROM assign WHERE crank = 1
), ecmp AS (
    -- pair-compare side only: zero-norm vectors (cosine undefined)
    -- can neither drop a cell-mate nor be dropped; they keep their
    -- cell row (quantizer training and assignment above still see
    -- every vector on both engines)
    SELECT * FROM e WHERE nrm > 0
), dropped AS (
    SELECT DISTINCT cb.vec_id
    FROM cells ca
    JOIN cells cb ON ca.centroid_id = cb.centroid_id
                 AND ca.vec_id < cb.vec_id
    JOIN ecmp ea ON ea.vec_id = ca.vec_id
    JOIN ecmp eb ON eb.vec_id = cb.vec_id
    WHERE ROUND(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 4)
          >= {SEMDEDUP_TAU}
)
SELECT c.vec_id, c.centroid_id AS cell,
       (d.vec_id IS NULL) AS is_kept
FROM cells c LEFT JOIN dropped d ON d.vec_id = c.vec_id
"""


def semantic_dedup_table(spark, sf_dir):
    """Materialized SemDeDup verdict table (vec_id, cell, is_kept) —
    built once per corpus snapshot like cluster_labels/contamination;
    curation consumers read the keep/drop set instead of re-running the
    within-cell pair compare per query."""
    import os

    from ..operators.artifacts import materialized
    from .similarity_q import IVF_KMEANS_ITERS

    return materialized(
        spark,
        os.path.join(sf_dir, "embeddings.parquet"),
        "semdedup",
        lambda: _semantic_dedup_build(spark, sf_dir),
        # zn1: zero-norm vectors sit out the pair compare (build change)
        params=f"tau{SEMDEDUP_TAU}i{IVF_NCENTROIDS}x{IVF_KMEANS_ITERS}zn1",
    )


@register("semantic_dedup", oracle=_semdedup_oracle())
def semantic_dedup(spark, sf_dir):
    """Embedding-space deduplication (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus into cells with the IVF
    coarse quantizer, compare pairs only WITHIN a cell, and drop every
    vector that has a lower-id cell-mate with cosine >= tau. Catches
    paraphrases and re-encodings that text-level MinHash/SimHash
    (operators/dedup.py) cannot see. Served from the MATERIALIZED
    verdict table (semantic_dedup_table) — the detector runs once per
    snapshot, as in production SemDeDup deployments.

    Scale shape — identical to IVF search: the self-join shuffles on
    the cell id, per-cell work is quadratic in CELL size (corpus/n_cells
    on average), never corpus^2; vectors travel into exactly one cell.
    Cells come from the SHARED persisted quantizer and materialized
    inverted file (similarity_q) — one quantizer serves search and
    dedup.
    tau={SEMDEDUP_TAU} is a driver-data dial (these synthetic
    embeddings are near-random, max cosine ~0.5); production corpora
    use ~0.9+ with the same plan. Cosine is rounded to 4 dp before the
    threshold compare — the same deterministic cross-engine contract as
    every similarity query here.

    Tier choice: README "Choosing a dedup tier" decision table.
    """
    return semantic_dedup_table(spark, sf_dir)


def _semantic_dedup_build(spark, sf_dir):
    from .similarity_q import ivf_cells_table

    emb = load_table(spark, sf_dir, "embeddings")
    cells = ivf_cells_table(spark, sf_dir)
    base = emb.select(
        "vec_id", "embedding", norm("embedding").alias("nrm")
    ).join(cells, "vec_id")
    # zero-norm vectors (cosine undefined) sit out the pair compare on
    # both sides — they keep their cell and is_kept=true, matching the
    # oracle's nrm-filtered pair CTE
    cmp_side = base.where(F.col("nrm") > 0)
    a = cmp_side.select(
        F.col("centroid_id").alias("cell"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = cmp_side.select(
        F.col("centroid_id").alias("cell"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sim = F.round(dot("va", "vb") / (F.col("na") * F.col("nb")), 4)
    dropped = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(sim >= SEMDEDUP_TAU)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        base.select("vec_id", F.col("centroid_id").alias("cell"))
        .join(
            dropped.select(F.col("vec_id"), F.lit(False).alias("_drop")),
            "vec_id",
            "left",
        )
        .select(
            "vec_id", "cell", F.coalesce("_drop", F.lit(True)).alias("is_kept")
        )
    )
