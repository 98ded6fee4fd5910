"""Driver-contract pairs for the training-data pipeline operators:
text analysis, deduplication, and embedding similarity search.

The DuckDB oracles for MinHash / SimHash / SRP-LSH are *generated*
from the same constants the Spark operators use (permutation params,
hyperplane signs), so signatures and buckets match bit-for-bit —
every hash bottoms out in md5, which both engines share (see
``operators/text.py`` docstring for the 60-bit hash construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomaly_detection_toolkit_spark import versioned
from anomaly_detection_toolkit_spark.entry_queries import r4, register, register_extra
from anomaly_detection_toolkit_spark.operators import (
    curation,
    dedup,
    ivf_index,
    similarity,
    text,
)
from anomaly_detection_toolkit_spark.operators.dedup import MERSENNE31, _perm_params
from anomaly_detection_toolkit_spark.sources.testdata import load_table

# shared SQL fragments --------------------------------------------------------

NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
HASH60_SQL = "CAST(CONCAT('0x', SUBSTRING(md5({x}), 1, 15)) AS BIGINT)"
BPE_RE_SQL = r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]"

TOKS_CTE = f"""
    t AS (
      SELECT doc_id, text, {NORM_SQL} AS norm,
             string_split({NORM_SQL}, ' ') AS toks
      FROM documents
    )
"""


def _stoplist_sql(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])


# ---------------------------------------------------------------------------
# Text quality features
# ---------------------------------------------------------------------------


_QUALITY_SQL = f"""
    WITH {TOKS_CTE},
    q AS (
      SELECT doc_id, text, norm,
             CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END AS n_tok,
             toks
      FROM t
    )
    SELECT doc_id,
           CAST(n_tok AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_RE_SQL}')) AS INTEGER) AS n_bpe_tokens,
           round(CASE WHEN n_tok > 0
                      THEN (length(norm) - (n_tok - 1)) / CAST(n_tok AS DOUBLE)
                      ELSE 0.0 END, 4) AS mean_word_len,
           round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
                 / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS punct_ratio,
           round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                 / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS digit_ratio,
           round(CASE WHEN n_tok > 0
                      THEN len(list_filter(toks, x -> x IN ({_stoplist_sql('en')})))
                           / CAST(n_tok AS DOUBLE)
                      ELSE 0.0 END, 4) AS stopword_ratio,
           round(
             CAST(n_tok BETWEEN 10 AND 100000 AS DOUBLE) * 0.4
             + CAST((CASE WHEN n_tok > 0
                          THEN (length(norm) - (n_tok - 1)) / CAST(n_tok AS DOUBLE)
                          ELSE 0.0 END) BETWEEN 2.0 AND 12.0 AS DOUBLE) * 0.2
             + (1.0 - least((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
                            / CAST(greatest(length(text), 1) AS DOUBLE) * 5, 1.0)) * 0.2
             + least((CASE WHEN n_tok > 0
                           THEN len(list_filter(toks, x -> x IN ({_stoplist_sql('en')})))
                                / CAST(n_tok AS DOUBLE)
                           ELSE 0.0 END) * 5, 1.0) * 0.2, 4) AS quality_score
    FROM q
"""


_QUALITY_COLS = [
    "doc_id",
    "n_tokens",
    "n_bpe_tokens",
    "mean_word_len",
    "punct_ratio",
    "digit_ratio",
    "stopword_ratio",
    "quality_score",
]


def _quality_select(out: DataFrame, extra: list[str] = []) -> DataFrame:
    return out.select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        r4(F.col("mean_word_len")).alias("mean_word_len"),
        r4(F.col("punct_ratio")).alias("punct_ratio"),
        r4(F.col("digit_ratio")).alias("digit_ratio"),
        r4(F.col("stopword_ratio")).alias("stopword_ratio"),
        r4(F.col("quality_score")).alias("quality_score"),
        *extra,
    )


# retired from the driver's 50-slot gate in round 3 (merged into
# text_quality_langid_documents below — same table, same grain, one
# scan); still locally hash-verified via tools/parity.py
@register_extra("text_quality_documents", _QUALITY_SQL)
def text_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "documents", sf_dir)
    return _quality_select(text.quality_features(df))


# ---------------------------------------------------------------------------
# Language-ID heuristic
# ---------------------------------------------------------------------------


_HITS_SQL = {
    lang: f"len(list_filter(toks, x -> x IN ({_stoplist_sql(lang)})))"
    for lang in text.LANG_ORDER
}

_LANGID_SQL = f"""
    WITH {TOKS_CTE},
    h AS (
      SELECT doc_id,
             {_HITS_SQL['en']} AS hits_en,
             {_HITS_SQL['de']} AS hits_de,
             {_HITS_SQL['fr']} AS hits_fr,
             {_HITS_SQL['es']} AS hits_es
      FROM t
    )
    SELECT doc_id,
           CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) = 0 THEN 'und'
                WHEN hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
                WHEN hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
                WHEN hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'fr'
                ELSE 'es' END AS pred_lang,
           CAST(hits_en AS INTEGER) AS hits_en,
           CAST(hits_de AS INTEGER) AS hits_de,
           CAST(hits_fr AS INTEGER) AS hits_fr,
           CAST(hits_es AS INTEGER) AS hits_es
    FROM h
"""


@register_extra("text_langid_documents", _LANGID_SQL)
def text_langid_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "documents", sf_dir)
    out = text.add_lang_id(df)
    return out.select("doc_id", "pred_lang", "hits_en", "hits_de", "hits_fr", "hits_es")


# merged driver-gate pair: quality features + language-ID in ONE row
# set (both are codegen'd projections over the same normalized-token
# arrays; the merge frees a slot in the driver's 50-query window for
# drift_primitives_documents without losing hash coverage — the
# originals stay under tools/parity.py via register_extra)
_LANGID_COLS_SQL = """
           CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) = 0 THEN 'und'
                WHEN hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
                WHEN hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
                WHEN hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'fr'
                ELSE 'es' END AS pred_lang,
           CAST(hits_en AS INTEGER) AS hits_en,
           CAST(hits_de AS INTEGER) AS hits_de,
           CAST(hits_fr AS INTEGER) AS hits_fr,
           CAST(hits_es AS INTEGER) AS hits_es
"""

_QUALITY_LANGID_SQL = f"""
    WITH q AS ({_QUALITY_SQL}),
    {TOKS_CTE},
    h AS (
      SELECT doc_id,
             {_HITS_SQL['en']} AS hits_en,
             {_HITS_SQL['de']} AS hits_de,
             {_HITS_SQL['fr']} AS hits_fr,
             {_HITS_SQL['es']} AS hits_es
      FROM t
    ),
    hl AS (
      SELECT doc_id, {_LANGID_COLS_SQL}
      FROM h
    ),
    fp AS (
      SELECT doc_id,
             md5({NORM_SQL}) AS fingerprint,
             {HASH60_SQL.format(x=f'md5({NORM_SQL})')} AS fingerprint60
      FROM documents
    )
    SELECT q.*, hl.pred_lang, hl.hits_en, hl.hits_de, hl.hits_fr, hl.hits_es,
           fp.fingerprint, fp.fingerprint60
    FROM q JOIN hl USING (doc_id) JOIN fp USING (doc_id)
"""


@register("text_quality_langid_documents", _QUALITY_LANGID_SQL)
def text_quality_langid_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + language-ID + document fingerprints in one
    per-document row set (round 4 folded text_fingerprint_documents in
    as well — all three are codegen'd projections over one scan; the
    standalone fingerprint pair stays under register_extra)."""
    df = load_table(spark, "documents", sf_dir)
    out = text.add_fingerprints(text.add_lang_id(text.quality_features(df)))
    return _quality_select(
        out,
        extra=[
            "pred_lang",
            "hits_en",
            "hits_de",
            "hits_fr",
            "hits_es",
            "fingerprint",
            "fingerprint60",
        ],
    )


# ---------------------------------------------------------------------------
# Document fingerprints (md5 + 60-bit numeric)
# ---------------------------------------------------------------------------


_FP_SQL = f"""
    SELECT doc_id,
           md5({NORM_SQL}) AS fingerprint,
           {HASH60_SQL.format(x=f'md5({NORM_SQL})')} AS fingerprint60
    FROM documents
"""


@register_extra("text_fingerprint_documents", _FP_SQL)
def text_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "documents", sf_dir)
    return text.add_fingerprints(df).select("doc_id", "fingerprint", "fingerprint60")


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


_EXACT_SQL = f"""
    WITH f AS (SELECT doc_id, md5({NORM_SQL}) AS fingerprint FROM documents)
    SELECT doc_id, fingerprint,
           CAST(count(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS group_size,
           CAST(row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS INTEGER)
             AS dup_rank,
           CAST(CASE WHEN row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) > 1
                     THEN 1 ELSE 0 END AS INTEGER) AS is_duplicate
    FROM f
"""


@register("dedup_exact_documents", _EXACT_SQL)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "documents", sf_dir)
    return dedup.exact_duplicates(df).select(
        "doc_id", "fingerprint", "group_size", "dup_rank", "is_duplicate"
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup pairs (inverted-index join)
# ---------------------------------------------------------------------------

_SHINGLE_CTE = f"""
    {TOKS_CTE},
    g AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            FOR i IN range(1, greatest(len(toks) - 1, 1))]) AS sh
      FROM t
    )
"""

_JACCARD_SQL = f"""
    WITH {_SHINGLE_CTE},
    sized AS (SELECT doc_id, len(sh) AS n_sh, sh FROM g WHERE len(sh) > 0),
    ex0 AS (SELECT doc_id, unnest(sh) AS gram FROM sized),
    -- document-frequency prune (must mirror the Spark side's max_df):
    -- shingles in >20 docs are dropped before the pair join
    hot AS (SELECT gram FROM ex0 GROUP BY gram HAVING count(*) > 20),
    ex AS (SELECT doc_id, gram FROM ex0 ANTI JOIN hot USING (gram)),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
      FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b, i.inter,
           round(i.inter / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE), 4) AS jaccard
    FROM inter i
    JOIN sized sa ON sa.doc_id = i.id_a
    JOIN sized sb ON sb.doc_id = i.id_b
    WHERE i.inter / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) >= 0.2
"""


@register("dedup_ngram_jaccard_documents", _JACCARD_SQL)
def dedup_ngram_jaccard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "documents", sf_dir)
    # max_df prunes stop-shingles before the pair join (the mandatory
    # scale guard, SURVEY dedup notes); jaccard becomes a lower bound
    out = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.2, max_df=20)
    return out.select("id_a", "id_b", "inter", r4(F.col("jaccard")).alias("jaccard"))


# ---------------------------------------------------------------------------
# MinHash signatures + banded-LSH near-dup pairs
# ---------------------------------------------------------------------------

_NUM_PERM, _BANDS = 16, 4
_PERMS = _perm_params(_NUM_PERM)

_minhash_terms = ",\n           ".join(
    f"coalesce(list_min(list_transform(hs, h -> ({a} * h + {b}) % {MERSENNE31})), "
    f"{MERSENNE31}) AS s{i}"
    for i, (a, b) in enumerate(_PERMS)
)

_SIG_CTE = f"""
    {_SHINGLE_CTE},
    h AS (
      SELECT doc_id,
             list_transform(sh, s -> {HASH60_SQL.format(x='s')} % 1073741824) AS hs
      FROM g
    ),
    sig AS (
      SELECT doc_id,
           {_minhash_terms}
      FROM h
    )
"""

_MINHASH_SIG_SQL = f"""
    WITH {_SIG_CTE}
    SELECT doc_id, {', '.join(f's{i}' for i in range(_NUM_PERM))}
    FROM sig
"""


# round 4: retired to register_extra — the driver-gated LSH-pairs and
# clusters pairs consume these signatures bit-exactly, so the
# standalone signature dump is redundant in-window coverage
@register_extra("dedup_minhash_sig_documents", _MINHASH_SIG_SQL)
def dedup_minhash_sig_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "documents", sf_dir)
    return dedup.minhash_signatures_exploded(df, "text", "doc_id", _NUM_PERM, 3).select(
        F.col("id").alias("doc_id"), *[f"s{i}" for i in range(_NUM_PERM)]
    )


_rows_per_band = _NUM_PERM // _BANDS
_band_exprs = [
    "md5(concat_ws(',', '{b}', {vals}))".format(
        b=bi,
        vals=", ".join(
            f"CAST(s{bi * _rows_per_band + r} AS VARCHAR)" for r in range(_rows_per_band)
        ),
    )
    for bi in range(_BANDS)
]
_agree_sql = " + ".join(
    f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(_NUM_PERM)
)

_MINHASH_PAIRS_SQL = f"""
    WITH {_SIG_CTE},
    banded AS (
      SELECT doc_id, {', '.join(f's{i}' for i in range(_NUM_PERM))},
             unnest([{', '.join(_band_exprs)}]) AS band_key
      FROM sig
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b,
           round(({_agree_sql.replace('a.s', 'sa.s').replace('b.s', 'sb.s')})
                 / {float(_NUM_PERM)}, 4) AS est_jaccard
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b
    WHERE ({_agree_sql.replace('a.s', 'sa.s').replace('b.s', 'sb.s')})
          / {float(_NUM_PERM)} >= 0.5
"""


# --- duplicate-cluster resolution: the LSH pairs above resolved to
# canonical clusters by iterative min-label propagation (Spark side:
# dedup.connected_components, a distributed fixpoint loop). The oracle
# re-derives the same fixpoint as a DuckDB RECURSIVE CTE: transitive
# reachability over the thresholded pair set, min reachable id =
# cluster id. The two sides share NOTHING but the pair definition —
# Spark iterates joins to a fixpoint, DuckDB closes the relation
# recursively — so the hash gate checks the iterative algorithm's
# convergence and result, not a replay. ---

_CLUSTERS_SQL = f"""
    WITH RECURSIVE {_SIG_CTE},
    banded AS (
      SELECT doc_id, {', '.join(f's{i}' for i in range(_NUM_PERM))},
             unnest([{', '.join(_band_exprs)}]) AS band_key
      FROM sig
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    fpairs AS (
      SELECT p.id_a, p.id_b
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b
      WHERE ({_agree_sql.replace('a.s', 'sa.s').replace('b.s', 'sb.s')})
            / {float(_NUM_PERM)} >= 0.5
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM fpairs
      UNION
      SELECT id_b AS u, id_a AS v FROM fpairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.u, r.lab FROM edges e JOIN reach r ON r.node = e.v
    ),
    comp AS (SELECT node AS doc_id, min(lab) AS cluster FROM reach GROUP BY node)
    SELECT c.doc_id, c.cluster, CAST(s.n AS INTEGER) AS cluster_size
    FROM comp c
    JOIN (SELECT cluster, count(*) AS n FROM comp GROUP BY cluster) s
      USING (cluster)
"""


@register("dedup_clusters_documents", _CLUSTERS_SQL)
def dedup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → canonical duplicate clusters (the corpus-level dedup
    output a training-data pipeline keeps: one representative per
    group, group size for prevalence stats)."""
    df = load_table(spark, "documents", sf_dir)
    pairs = dedup.minhash_lsh_pairs(df, num_perm=_NUM_PERM, bands=_BANDS, threshold=0.5)
    cc = dedup.connected_components(pairs)
    return cc.select(F.col("id_a").alias("doc_id"), "cluster", "cluster_size")


@register("dedup_minhash_lsh_documents", _MINHASH_PAIRS_SQL)
def dedup_minhash_lsh_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "documents", sf_dir)
    out = dedup.minhash_lsh_pairs(df, num_perm=_NUM_PERM, bands=_BANDS, threshold=0.5)
    return out.select("id_a", "id_b", r4(F.col("est_jaccard")).alias("est_jaccard"))


# --- incremental corpus dedup: an ingest batch (doc_id % 7 = 0)
# probed against the persistent LSH index of the rest of the corpus —
# the whole-corpus self-join never re-runs (the 100 TB contract: per
# batch you pay batch signatures + an index probe, not corpus²). The
# oracle re-derives both the batch×corpus probe and the batch×batch
# self-join from the same signature CTE. ---

_agree_ab = _agree_sql.replace("a.s", "sa.s").replace("b.s", "sb.s")

_INCR_PAIRS_SQL = f"""
    WITH {_SIG_CTE},
    banded AS (
      SELECT doc_id, {', '.join(f's{i}' for i in range(_NUM_PERM))},
             unnest([{', '.join(_band_exprs)}]) AS band_key
      FROM sig
    ),
    nb AS (SELECT * FROM banded WHERE doc_id % 7 = 0),
    cb AS (SELECT * FROM banded WHERE doc_id % 7 <> 0),
    p AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             'corpus' AS against
      FROM nb a JOIN cb b ON a.band_key = b.band_key
      UNION
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             'batch' AS against
      FROM nb a JOIN nb b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b,
           round(({_agree_ab}) / {float(_NUM_PERM)}, 4) AS est_jaccard,
           p.against
    FROM p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b
    WHERE ({_agree_ab}) / {float(_NUM_PERM)} >= 0.5
"""


@register("dedup_incremental_lsh_documents", _INCR_PAIRS_SQL)
def dedup_incremental_lsh_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "documents", sf_dir)
    batch = df.filter(F.col("doc_id") % 7 == 0)
    corpus = df.filter(F.col("doc_id") % 7 != 0)
    index = dedup.build_lsh_index(corpus, num_perm=_NUM_PERM, bands=_BANDS)
    out = dedup.incremental_lsh_pairs(
        batch, index, num_perm=_NUM_PERM, bands=_BANDS, threshold=0.5
    )
    return out.select(
        "id_a", "id_b", r4(F.col("est_jaccard")).alias("est_jaccard"), "against"
    )


# --- hot-band capped LSH (round 5: PROMOTED to the driver gate —
# the round-4 skew-cap code is load-bearing at scale; slot freed by
# retiring topk_recent_events) ---
# the round-4 skew bound end to end in SQL: band buckets over the cap
# are excluded from the pair join and their member docs pair through
# the exact-fingerprint group-min star at est 1.0. max_bucket=2 so
# the documents table's planted exact-dup groups actually trip the
# cap at sf0.01.

_CAP = 2

_CAPPED_SQL = f"""
    WITH {_SIG_CTE},
    banded AS (
      SELECT doc_id, {', '.join(f's{i}' for i in range(_NUM_PERM))},
             unnest([{', '.join(_band_exprs)}]) AS band_key
      FROM sig
    ),
    hot AS (
      SELECT band_key FROM banded GROUP BY band_key HAVING count(*) > {_CAP}
    ),
    cold AS (
      SELECT * FROM banded WHERE band_key NOT IN (SELECT band_key FROM hot)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM cold a JOIN cold b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT p.id_a, p.id_b,
             ({_agree_ab}) / {float(_NUM_PERM)} AS est
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b
      WHERE ({_agree_ab}) / {float(_NUM_PERM)} >= 0.5
    ),
    hot_ids AS (
      SELECT DISTINCT doc_id FROM banded
      WHERE band_key IN (SELECT band_key FROM hot)
    ),
    hfp AS (
      SELECT d.doc_id, md5({NORM_SQL}) AS fp
      FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM hot_ids)
    ),
    reps AS (SELECT fp, min(doc_id) AS id_a FROM hfp GROUP BY fp),
    fallback AS (
      SELECT r.id_a, h.doc_id AS id_b, 1.0 AS est
      FROM hfp h JOIN reps r USING (fp)
      WHERE h.doc_id <> r.id_a
    )
    SELECT id_a, id_b, round(est, 4) AS est_jaccard FROM scored
    UNION
    SELECT id_a, id_b, round(est, 4) AS est_jaccard FROM fallback
"""


@register("dedup_minhash_capped_documents", _CAPPED_SQL)
def dedup_minhash_capped_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "documents", sf_dir)
    out = dedup.minhash_lsh_pairs(
        df, num_perm=_NUM_PERM, bands=_BANDS, threshold=0.5, max_bucket=_CAP
    )
    return out.select("id_a", "id_b", r4(F.col("est_jaccard")).alias("est_jaccard"))


# --- corpus curation: token-budget packing + stratified sampling.
# All-integer outputs (zero rounding hazard). The packing oracle
# re-derives the two-phase prefix sum as one global window cumsum —
# independent plans, same layout-invariant definition. ---

_PACK_BUDGET = 512

_PACK_CTES = f"""{TOKS_CTE},
    b AS (
      SELECT doc_id,
             CAST(CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END
                  AS BIGINT) AS n_tokens,
             {HASH60_SQL.format(x='CAST(doc_id AS VARCHAR)')} AS okey
      FROM t
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY okey, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM b
    ),
    pk AS (
      SELECT doc_id, n_tokens,
             cum - n_tokens AS start_offset,
             (cum - n_tokens) // {_PACK_BUDGET} AS chunk_id,
             (cum - n_tokens) % {_PACK_BUDGET} AS offset_in_chunk,
             greatest(cum - 1, cum - n_tokens) // {_PACK_BUDGET}
               - (cum - n_tokens) // {_PACK_BUDGET} + 1 AS n_chunks
      FROM c
    )"""

_PACK_SQL = f"""
    WITH {_PACK_CTES}
    SELECT doc_id, n_tokens, start_offset, chunk_id, offset_in_chunk, n_chunks
    FROM pk
"""

_CHUNKS_SQL = f"""
    WITH {_PACK_CTES}
    SELECT pk.chunk_id + x.ci AS chunk_id,
           pk.doc_id,
           greatest((pk.chunk_id + x.ci) * {_PACK_BUDGET}, pk.start_offset)
             - pk.start_offset AS tok_from,
           least((pk.chunk_id + x.ci + 1) * {_PACK_BUDGET},
                 pk.start_offset + pk.n_tokens)
             - greatest((pk.chunk_id + x.ci) * {_PACK_BUDGET}, pk.start_offset)
             AS tok_len,
           greatest((pk.chunk_id + x.ci) * {_PACK_BUDGET}, pk.start_offset)
             - (pk.chunk_id + x.ci) * {_PACK_BUDGET} AS chunk_offset
    FROM pk, LATERAL (SELECT unnest(range(0, pk.n_chunks)) AS ci) x
    WHERE pk.n_tokens > 0
"""


@register("corpus_pack_documents", _PACK_SQL)
def corpus_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "documents", sf_dir)
    return curation.pack_documents(df, budget=_PACK_BUDGET)


@register("corpus_chunk_assignments_documents", _CHUNKS_SQL)
def corpus_chunk_assignments_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "documents", sf_dir)
    packed = curation.pack_documents(df, budget=_PACK_BUDGET)
    return curation.chunk_assignments(packed, budget=_PACK_BUDGET)


_MIX_RATES = {"en": 0.5, "de": 0.25, "zh": 0.1}
_MIX_DEFAULT, _MIX_SALT = 0.05, "mix1"

_MIX_CASE = " ".join(
    f"WHEN '{k}' THEN {int(round(v * 1_000_000))}" for k, v in sorted(_MIX_RATES.items())
)

_STRAT_SQL = f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {HASH60_SQL.format(x=f"concat(CAST(doc_id AS VARCHAR), ':{_MIX_SALT}')")}
          % 1000000
          < CASE lang {_MIX_CASE} ELSE {int(round(_MIX_DEFAULT * 1_000_000))} END
"""


@register("corpus_stratified_sample_documents", _STRAT_SQL)
def corpus_stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "documents", sf_dir)
    out = curation.stratified_sample(
        df, "lang", _MIX_RATES, salt=_MIX_SALT, default_fraction=_MIX_DEFAULT
    )
    return out.select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32
_simhash_terms = " + ".join(
    f"CASE WHEN coalesce(list_sum(list_transform(th, "
    f"h -> CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END)), 0) >= 0 "
    f"THEN CAST({1 << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    for k in range(_SIMHASH_BITS)
)

_SIMHASH_SQL = f"""
    WITH {TOKS_CTE},
    h AS (
      SELECT doc_id,
             list_transform(list_distinct(toks), x -> {HASH60_SQL.format(x='x')}) AS th
      FROM t
    )
    SELECT doc_id, CAST({_simhash_terms} AS BIGINT) AS simhash
    FROM h
"""


@register("dedup_simhash_documents", _SIMHASH_SQL)
def dedup_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "documents", sf_dir)
    th = df.select("doc_id", dedup.token_hashes(F.col("text")).alias("th"))
    return th.select(
        "doc_id", dedup.simhash_from_hashes(F.col("th"), _SIMHASH_BITS).alias("simhash")
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_DIM, _K, _N_QUERIES = 64, 5, 10

_E_CTE = f"""
    e AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
"""

_DOT_SQL = (
    "list_sum(list_transform(range(1, {d}), "
    "i -> CAST({a}.embedding[i] AS DOUBLE) * CAST({b}.embedding[i] AS DOUBLE)))"
).format(d=_DIM + 1, a="{a}", b="{b}")

_N_PLANES = 4
_PLANES = similarity.plane_signs(_N_PLANES, _DIM)


def _plane_dot_sql(alias: str, p: int) -> str:
    """The per-plane signed dot as ONE canonical left-to-right chain —
    shared by the bucket and the multiprobe margin SQL so the
    bit-exactness argument (identical summation order on both
    engines) can never drift between the two call sites."""
    return " + ".join(
        f"({float(sgn)}) * CAST({alias}.embedding[{i + 1}] AS DOUBLE)"
        for i, sgn in enumerate(_PLANES[p])
    )


def _bucket_sql(alias: str) -> str:
    plane_cases = [
        f"(CASE WHEN ({_plane_dot_sql(alias, p)}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(len(_PLANES))
    ]
    return "(" + " + ".join(plane_cases) + ")"


# multi-probe CTEs shared by the merged gate pair and the standalone
# extra pair: the probe-list derivation — per-plane margins, sort by
# (|margin|, plane), flip the n_probes-1 closest planes — re-derived
# in DuckDB over struct lists, then candidates = corpus rows whose
# home bucket is in the query's probe set. Cross-engine exactness:
# both engines evaluate the plane dot as the same left-to-right
# chain, so margins (and the sort) are bit-identical.
_N_PROBES = 3


def _margin_sql(alias: str, p: int) -> str:
    return f"abs({_plane_dot_sql(alias, p)})"


_MPROBE_CTES = f"""
    qm AS (
      SELECT eb.*,
             list_transform(
               list_slice(
                 list_sort([
                   {', '.join(
                       "{'m': %s, 'p': %d}" % (_margin_sql('eb', p), p)
                       for p in range(_N_PLANES)
                   )}
                 ]),
                 1, {_N_PROBES - 1}
               ),
               s -> xor(bucket, (1 << s.p))
             ) AS flips
      FROM eb WHERE vec_id < {_N_QUERIES}
    ),
    qp AS (
      SELECT vec_id, embedding, nrm,
             list_distinct(list_prepend(bucket, flips)) AS probes
      FROM qm
    ),
    mc AS (
      SELECT DISTINCT qp.vec_id AS query_id, eb.vec_id AS neighbor_id,
             {_DOT_SQL.format(a='qp', b='eb')} / (qp.nrm * eb.nrm) AS cs
      FROM qp JOIN eb ON list_contains(qp.probes, eb.bucket)
                     AND eb.vec_id <> qp.vec_id
    ),
    mr AS (
      SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cs, 6) DESC, neighbor_id) AS rnk
      FROM mc
    )
"""


# brute-force, SRP-LSH and multi-probe SRP top-k share one pair (same
# table, same output grain, distinguished by a `method` column) —
# brute+lsh merged in round 3 to free a registry slot for the IVF
# scale path; multiprobe folded in in round 5 so the round-4 probe
# code gets a DRIVER-GATED row without consuming a slot (the
# standalone pair stays under register_extra).
_ANN_TOPK_SQL = f"""
    WITH {_E_CTE},
    q AS (SELECT * FROM e WHERE vec_id < {_N_QUERIES}),
    bs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_DOT_SQL.format(a='q', b='e')} / (q.nrm * e.nrm) AS cs
      FROM e, q WHERE e.vec_id <> q.vec_id
    ),
    br AS (
      SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cs, 6) DESC, neighbor_id) AS rnk
      FROM bs
    ),
    eb AS (SELECT e.vec_id, e.embedding, e.nrm, {_bucket_sql('e')} AS bucket FROM e),
    qb AS (SELECT * FROM eb WHERE vec_id < {_N_QUERIES}),
    ls AS (
      SELECT qb.vec_id AS query_id, eb.vec_id AS neighbor_id,
             {_DOT_SQL.format(a='qb', b='eb')} / (qb.nrm * eb.nrm) AS cs
      FROM eb JOIN qb ON eb.bucket = qb.bucket AND eb.vec_id <> qb.vec_id
    ),
    lr AS (
      SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cs, 6) DESC, neighbor_id) AS rnk
      FROM ls
    ),
    {_MPROBE_CTES}
    SELECT 'brute' AS method, query_id, neighbor_id,
           round(cs, 4) AS cosine_sim, CAST(rnk AS INTEGER) AS rank
    FROM br WHERE rnk <= {_K}
    UNION ALL
    SELECT 'lsh' AS method, query_id, neighbor_id,
           round(cs, 4) AS cosine_sim, CAST(rnk AS INTEGER) AS rank
    FROM lr WHERE rnk <= {_K}
    UNION ALL
    SELECT 'mprobe' AS method, query_id, neighbor_id,
           round(cs, 4) AS cosine_sim, CAST(rnk AS INTEGER) AS rank
    FROM mr WHERE rnk <= {_K}
"""


# --- multi-probe SRP top-k standalone (register_extra: local parity
# gate; the same CTEs are driver-gated inside ann_topk_embeddings) ---

_MPROBE_SQL = f"""
    WITH {_E_CTE},
    eb AS (SELECT e.vec_id, e.embedding, e.nrm, {_bucket_sql('e')} AS bucket FROM e),
    {_MPROBE_CTES}
    SELECT query_id, neighbor_id, round(cs, 4) AS cosine_sim,
           CAST(rnk AS INTEGER) AS rank
    FROM mr WHERE rnk <= {_K}
"""


@register_extra("ann_multiprobe_topk_embeddings", _MPROBE_SQL)
def ann_multiprobe_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = similarity.lsh_topk(
        emb, queries, k=_K, n_planes=_N_PLANES, dim=_DIM,
        n_tables=1, n_probes=_N_PROBES,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        r4(F.col("cosine_sim")).alias("cosine_sim"),
        "rank",
    )


@register("ann_topk_embeddings", _ANN_TOPK_SQL)
def ann_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    brute = similarity.brute_force_topk(emb, queries, k=_K).withColumn(
        "method", F.lit("brute")
    )
    lsh = similarity.lsh_topk(
        # n_tables pinned to 1: the oracle SQL models a single plane
        # set (the round-4 default bump to 4 tables is a recall knob,
        # measured in BENCH/ANN_RECALL.md, not a semantics change)
        emb, queries, k=_K, n_planes=_N_PLANES, dim=_DIM, n_tables=1
    ).withColumn("method", F.lit("lsh"))
    # the lsh and mprobe calls each project corpus buckets (no shared
    # subplan) — accepted: this pair is a CORRECTNESS gate over three
    # methods on a small table, not a production plan; a real caller
    # picks one method (docs/SCALE.md) and pays one projection
    mprobe = similarity.lsh_topk(
        emb, queries, k=_K, n_planes=_N_PLANES, dim=_DIM,
        n_tables=1, n_probes=_N_PROBES,
    ).withColumn("method", F.lit("mprobe"))
    return brute.unionByName(lsh).unionByName(mprobe).select(
        "method",
        "query_id",
        "neighbor_id",
        r4(F.col("cosine_sim")).alias("cosine_sim"),
        "rank",
    )


# --- IVF top-k (coarse-quantizer scale path) under the hash gate.
# The k-means fit is deliberately RNG-free and replayable (priority-
# ordered sample + fixed Lloyd iterations — see
# similarity.fit_kmeans_arrays), so the lazy oracle refits the
# IDENTICAL centroids outside Spark (DuckDB reproduces the id-hash
# sample order), embeds them as literals, and re-derives cell
# assignment (argmax of round(c·x − |c|²/2, 6dp), ties → lowest cell), the
# n_probe query cells, and the exact-cosine rerank entirely in SQL.

_IVF_CELLS, _IVF_PROBE, _IVF_SEED = 16, 4, 42


def _ivf_oracle_sql() -> str:
    import os

    import duckdb
    import numpy as np

    sf_dir = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01")
    rows = duckdb.execute(
        f"""
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM '{sf_dir}/embeddings.parquet'
        ORDER BY CAST('0x' || substring(
                   md5('{_IVF_SEED}' || ',' || CAST(vec_id AS VARCHAR)), 1, 15)
                 AS BIGINT)
        LIMIT 100000
        """
    ).fetchall()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    cent = similarity.fit_kmeans_arrays(x, _IVF_CELLS)
    half_norms = 0.5 * (cent * cent).sum(axis=1)
    cent_lits = ",".join(
        f"({c},{i},{float(cent[c, i])!r})"
        for c in range(_IVF_CELLS)
        for i in range(_DIM)
    )
    hn_lits = ",".join(
        f"({c},{float(half_norms[c])!r})" for c in range(_IVF_CELLS)
    )
    return f"""
    WITH {_E_CTE},
    cent(c, i, v) AS MATERIALIZED (VALUES {cent_lits}),
    celln(c, hn) AS MATERIALIZED (VALUES {hn_lits}),
    eu AS MATERIALIZED (
      SELECT vec_id, u.i, CAST(embedding[u.i + 1] AS DOUBLE) AS x
      FROM e, (SELECT unnest(range(0, {_DIM})) AS i) u
    ),
    s AS MATERIALIZED (
      SELECT eu.vec_id, ct.c, sum(eu.x * ct.v) - min(cn.hn) AS score
      FROM eu
      JOIN cent ct ON ct.i = eu.i
      JOIN celln cn ON cn.c = ct.c
      GROUP BY eu.vec_id, ct.c
    ),
    ranked AS MATERIALIZED (
      SELECT vec_id, c,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY round(score, 6) DESC, c) AS rn
      FROM s
    ),
    cellof AS (SELECT vec_id, c FROM ranked WHERE rn = 1),
    probe AS (
      SELECT vec_id, c FROM ranked
      WHERE rn <= {_IVF_PROBE} AND vec_id < {_N_QUERIES}
    ),
    s2 AS (
      SELECT p.vec_id AS query_id, co.vec_id AS neighbor_id,
             {_DOT_SQL.format(a='qe', b='ne')} / (qe.nrm * ne.nrm) AS cs
      FROM probe p
      JOIN cellof co ON co.c = p.c AND co.vec_id <> p.vec_id
      JOIN e qe ON qe.vec_id = p.vec_id
      JOIN e ne ON ne.vec_id = co.vec_id
    ),
    r2 AS (
      SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cs, 6) DESC, neighbor_id) AS rnk
      FROM s2
    )
    SELECT query_id, neighbor_id, round(cs, 4) AS cosine_sim,
           CAST(rnk AS INTEGER) AS rank
    FROM r2 WHERE rnk <= {_K}
    """


# The pair runs through the PERSISTED index so the driver gate
# hash-checks the production API. The cache path is DETERMINISTIC,
# keyed by (sf_dir, embeddings mtime+size): processes share one dir
# per source-table state and never serve a stale index. It is never
# deleted at exit (another process may be mid-query on it); the loser
# of a race to build it serves the winner's (deterministic) index.
_IVF_INDEX_CACHE: dict[str, str] = {}


def _ivf_index_for(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _IVF_INDEX_CACHE:
        import hashlib
        import os
        import tempfile

        src = os.path.join(sf_dir, "embeddings.parquet")
        st = os.stat(src)
        key = hashlib.md5(
            f"{os.path.abspath(src)}:{st.st_mtime_ns}:{st.st_size}".encode()
        ).hexdigest()[:16]
        # a new prefix: never reuse a pre-versioned-layout dir
        path = os.path.join(tempfile.gettempdir(), f"adt_ivf_index_{key}")
        cells = os.path.join(path, ivf_index.CELLS)
        while not versioned.published(cells):
            try:
                ivf_index.build_ivf_index(
                    load_table(spark, "embeddings", sf_dir),
                    path, n_cells=_IVF_CELLS, seed=_IVF_SEED,
                )
            except versioned.ConcurrentWriteError:
                with versioned.lock(cells, wait=True):
                    pass  # the winner published (or died: build again)
        _IVF_INDEX_CACHE[sf_dir] = path
    return _IVF_INDEX_CACHE[sf_dir]


@register("ann_ivf_topk_embeddings", _ivf_oracle_sql)
def ann_ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = ivf_index.ivf_query(
        spark, _ivf_index_for(spark, sf_dir), queries, k=_K, n_probe=_IVF_PROBE
    )
    return out.select(
        "query_id", "neighbor_id", r4(F.col("cosine_sim")).alias("cosine_sim"), "rank"
    )


_NEAR_DUP_MIN_COS = 0.4

_NEAR_DUP_SQL = f"""
    WITH {_E_CTE},
    eb AS (SELECT e.vec_id, e.embedding, e.nrm, {_bucket_sql('e')} AS bucket FROM e)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_DOT_SQL.format(a='a', b='b')} / (a.nrm * b.nrm), 4) AS cosine_sim
    FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_DOT_SQL.format(a='a', b='b')} / (a.nrm * b.nrm) >= {_NEAR_DUP_MIN_COS}
"""


@register("dedup_embedding_cosine_pairs", _NEAR_DUP_SQL)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    out = similarity.embedding_near_dup_pairs(
        emb, min_cosine=_NEAR_DUP_MIN_COS, n_planes=_N_PLANES, dim=_DIM
    )
    return out.select("id_a", "id_b", r4(F.col("cosine_sim")).alias("cosine_sim"))
