"""Oracle-paired LLM-training-data pipeline queries (SURVEY §7.2 step 5).

Covers the north-star operator families over ``documents`` /
``embeddings``: text analysis, exact + fuzzy dedup (MinHash-LSH, SimHash,
n-gram Jaccard), and embedding similarity search (brute / LSH / IVF).

Every oracle here is GENERATED from the same constants as the Spark
expressions (functions.texthash / operators.simsearch), so both engines
compute bit-identical hashes, signatures, buckets, and (sequential-fold)
cosine scores — the driver's value-hash comparison is exact, not
approximate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from .functions import texthash as TH
from .operators import (
    dedup,
    lines,
    multimodal,
    ordering,
    sampling,
    simsearch,
    text_analysis,
)
from .registry import query, staged_query
from .tables import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q19_bench_text_features(spark, sf_dir):
    """Bench body: the per-document feature projection ALONE (the pre-r19
    q19_text_features plan, kept under its historical bench key after the
    r19 fold retired the face into q20_corpus_profile — the q28/q38
    sentinel-split precedent, so the headline series stays comparable)."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.text_features(docs).select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        "n_uniq_tokens",
        "avg_token_len",
        "lang_pred",
        "quality",
        "fingerprint",
    )


# Bit-identical dual-dialect rounding: DuckDB sums BIGINT into HUGEINT (which
# the harness hashes differently from int64) and round() can land on a
# different double than Spark's HALF_UP, so sums are pinned with CAST and
# rounded doubles use the shared floor(x*10^k + 0.5)/10^k form — the floor
# absorbs the engines' last-ulp disagreement in the mean, and the integer /
# power-of-ten division is then the same IEEE op on both sides.
# r19 fold (q19_text_features -> q20_corpus_profile, the r18 merged-
# absorber precedent): the per-source rollup now pins EVERY q19 feature
# column, so one driver row attests the whole text_features kernel —
# counts by exact BIGINT sums, fingerprint / lang_pred by modular
# checksums ((x % M) summed then re-reduced mod M: every term is exact
# int64 on both engines, and a single per-doc divergence moves the
# residue with probability 1 - 1/M).
_CHK_M = 1_000_003  # checksum modulus — keeps every partial < 2^63
_LANG_PRIME_SQL = (
    "CASE {lang} WHEN 'en' THEN 2 WHEN 'de' THEN 3 WHEN 'fr' THEN 5 "
    "WHEN 'es' THEN 7 ELSE 11 END"
)

_Q20_ORACLE = f"""
    WITH feat AS (
        SELECT doc_id, source,
               {TH.sql_token_count('text')}                AS n_tokens,
               {TH.sql_bpe_token_count('text')}            AS n_bpe_tokens,
               len(list_distinct({TH.sql_tokens('text')})) AS n_uniq_tokens,
               {TH.sql_avg_token_len('text')}              AS avg_token_len,
               {TH.sql_lang_id('text')}                    AS lang_pred,
               {TH.sql_quality_score('text')}              AS quality,
               {TH.sql_fingerprint('text')}                AS fingerprint
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           floor(avg(quality) * 10000 + 0.5) / 10000.0 AS avg_quality,
           CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_en,
           floor(avg(n_tokens) * 10000 + 0.5) / 10000.0 AS avg_tokens,
           CAST(sum(n_bpe_tokens) AS BIGINT) AS sum_bpe_tokens,
           CAST(sum(n_uniq_tokens) AS BIGINT) AS sum_uniq_tokens,
           floor(avg(avg_token_len) * 10000 + 0.5) / 10000.0
               AS avg_token_len,
           CAST(sum(fingerprint % {_CHK_M}) AS BIGINT) % {_CHK_M}
               AS fp_check,
           CAST(sum((doc_id % {_CHK_M})
                    * {_LANG_PRIME_SQL.format(lang='lang_pred')})
                AS BIGINT) % {_CHK_M} AS lang_check
    FROM feat
    GROUP BY source
"""


def _round4(col):
    """floor(x*1e4 + 0.5)/1e4 — bit-identical to the DuckDB oracle's form."""
    return F.floor(col * 10000 + F.lit(0.5)) / F.lit(10000.0)


def _lang_prime(col):
    """Small-prime encoding of the lang_id domain for the q20 checksum."""
    return (
        F.when(col == "en", 2)
        .when(col == "de", 3)
        .when(col == "fr", 5)
        .when(col == "es", 7)
        .otherwise(11)
        .cast("long")
    )


@query("q20_corpus_profile", _Q20_ORACLE)
def q20_corpus_profile(spark, sf_dir):
    """Corpus profiling rollup per source (the dataset-card query) —
    per-doc features computed once, then one partial-agg'd groupBy.

    r19 fold: absorbs q19_text_features (registry.MERGED) — the rollup
    pins every text_features column per source: exact sums for the
    integer counts, floor-rounded means for the doubles, and modular
    checksums for fingerprint (value-weighted) and lang_pred
    (doc_id-weighted prime encoding), so the single driver row certifies
    the per-document feature kernel, not just the profile."""
    docs = _t(spark, sf_dir, "documents")
    feats = text_analysis.text_features(docs)
    m = F.lit(_CHK_M)
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _round4(F.avg("quality")).alias("avg_quality"),
        F.sum(F.when(F.col("lang_pred") == "en", 1).otherwise(0)).alias("n_en"),
        _round4(F.avg("n_tokens").cast("double")).alias("avg_tokens"),
        F.sum("n_bpe_tokens").cast("long").alias("sum_bpe_tokens"),
        F.sum("n_uniq_tokens").cast("long").alias("sum_uniq_tokens"),
        _round4(F.avg("avg_token_len")).alias("avg_token_len"),
        (F.sum(F.col("fingerprint") % m) % m).cast("long").alias("fp_check"),
        (
            F.sum((F.col("doc_id") % m) * _lang_prime(F.col("lang_pred"))) % m
        )
        .cast("long")
        .alias("lang_check"),
    )


_Q21_ORACLE = f"""
    SELECT doc_id, source, n_chars, {TH.sql_quality_score('text')} AS quality
    FROM documents
    WHERE {TH.sql_quality_score('text')} >= 0.5
"""


@query("q21_quality_filter", _Q21_ORACLE)
def q21_quality_filter(spark, sf_dir):
    """The corpus-cleaning gate: keep docs above a quality threshold."""
    docs = _t(spark, sf_dir, "documents")
    feats = text_analysis.text_features(docs)
    return feats.filter(F.col("quality") >= 0.5).select(
        "doc_id", "source", "n_chars", "quality"
    )


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy keep-lowest-id)
# ---------------------------------------------------------------------------

_Q22_ORACLE = """
    WITH u AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    keep AS (SELECT md5(text) AS ch, min(doc_id) AS doc_id FROM u GROUP BY 1)
    SELECT u.doc_id, u.text
    FROM u JOIN keep ON u.doc_id = keep.doc_id AND md5(u.text) = keep.ch
"""


@query("q22_exact_dedup", _Q22_ORACLE)
def q22_exact_dedup(spark, sf_dir):
    """Exact dedup over a corpus with injected duplicates (even docs are
    duplicated under shifted ids; the lowest id survives)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    )
    return dedup.exact_dedup(docs.unionByName(dupes))


# ---------------------------------------------------------------------------
# MinHash signatures + LSH near-dup pairs
# ---------------------------------------------------------------------------

_MH_COLS = ", ".join(
    f"min({TH.sql_minhash_perm('h', i)}) AS mh{i}" for i in range(TH.NUM_HASHES)
)

def _sig_ctes(src: str) -> str:
    return f"""
    sh AS (
        SELECT doc_id, unnest({TH.sql_char_shingles('text')}) AS shingle
        FROM {src}
    ),
    hv AS (SELECT doc_id, {TH.sql_poly_hash('shingle')} AS h FROM sh),
    sig AS (SELECT doc_id, {_MH_COLS} FROM hv GROUP BY doc_id)
"""


_SIG_CTES = _sig_ctes("documents")

# r19 fold: q23_minhash_signatures retired into q24 (registry.MERGED).
# The signature relation is the pair stage's input — q24's oracle embeds
# _SIG_CTES — and q24's widened output now carries a per-document
# signature checksum section, so the single driver row pins every mh_i
# value directly (not just through the band/verify funnel).


def _band_key_sql(b: int) -> str:
    r = TH.NUM_HASHES // TH.LSH_BANDS
    return " || '-' || ".join(
        f"CAST(mh{b * r + j} AS VARCHAR)" for j in range(r)
    )


_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS key FROM sig"
    for b in range(TH.LSH_BANDS)
)

# pairs-only pipeline (the pre-r19 q24 oracle) — still referenced by
# q67's restriction oracle; the registered q24 face appends the
# signature-checksum section below
_Q24_PAIRS_ORACLE = f"""
    WITH {_SIG_CTES},
    bands AS ({_BANDS_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    )
    SELECT * FROM (
        SELECT s.id_a, s.id_b,
               CAST(s.inter AS DOUBLE) / (na.n + nb.n - s.inter) AS jaccard
        FROM shared s
        JOIN sizes na ON na.doc_id = s.id_a
        JOIN sizes nb ON nb.doc_id = s.id_b
    ) WHERE jaccard >= 0.5
"""

_Q24_ORACLE = f"""{_Q24_PAIRS_ORACLE}
    UNION ALL
    SELECT doc_id AS id_a, CAST(-1 AS BIGINT) AS id_b,
           CAST(({" + ".join(
               f"(mh{i} % {_CHK_M}) * {i + 1}" for i in range(TH.NUM_HASHES)
           )}) % {_CHK_M} AS DOUBLE) AS jaccard
    FROM sig
"""


def q24_bench_pairs(spark, sf_dir):
    """Bench body: the LSH near-dup pair pipeline ALONE (the pre-r19 q24
    plan, kept under its historical bench key after the q23 fold widened
    the registered face with the signature-checksum section)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(docs, threshold=0.5)


@query("q24_minhash_dedup_pairs", _Q24_ORACLE)
def q24_minhash_dedup_pairs(spark, sf_dir):
    """Near-dup pairs: LSH candidates verified by exact Jaccard >= 0.5.

    r19 fold: absorbs q23_minhash_signatures (registry.MERGED) — the
    output unions a per-document section (id_b = -1) whose ``jaccard``
    column carries a position-weighted modular checksum of the 16
    MinHash values, so the driver row pins the signature relation
    directly; the pair section pins the band/verify funnel as before.
    The signatures are computed ONCE (corpus_signatures persists them)
    and feed both sections."""
    docs = _t(spark, sf_dir, "documents")
    sets, sigs = dedup.corpus_signatures(docs)
    cand = dedup.lsh_candidate_pairs(sigs)
    pairs = dedup.jaccard_verify(cand, sets, threshold=0.5)
    m = F.lit(_CHK_M)
    check = reduce(
        lambda acc, i: acc + (F.col(f"mh{i}") % m) * F.lit(i + 1),
        range(TH.NUM_HASHES),
        F.lit(0).cast("long"),
    )
    sig_rows = sigs.select(
        F.col("doc_id").alias("id_a"),
        F.lit(-1).cast("long").alias("id_b"),
        (check % m).cast("double").alias("jaccard"),
    )
    return pairs.unionByName(sig_rows)


# ---------------------------------------------------------------------------
# SimHash + Hamming pairs
# ---------------------------------------------------------------------------

_SIMHASH_BITSUMS = ", ".join(
    f"sum(2 * ((h // {1 << j}) % 2) - 1) AS b{j}" for j in range(dedup.SIMHASH_BITS)
)
_SIMHASH_VALUE = " + ".join(
    f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END"
    for j in range(dedup.SIMHASH_BITS)
)

_SIMHASH_CTES = f"""
    tok AS (SELECT doc_id, unnest({TH.sql_tokens('text')}) AS tok FROM documents),
    hv AS (SELECT doc_id, {TH.sql_poly_hash('tok')} AS h FROM tok),
    bits AS (SELECT doc_id, {_SIMHASH_BITSUMS} FROM hv GROUP BY doc_id),
    sim AS (SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash FROM bits)
"""

# r19 fold: q25_simhash retired into q26 (registry.MERGED) — q26's
# widened output carries the full per-document sim relation as a
# sentinel section (id_b = -1, hamming = the 32-bit simhash value), so
# one driver row pins every sketch value AND the banded pair funnel.


_SIMBANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, simhash, {i} AS band,"
    f" (simhash // {1 << (8 * i)}) % 256 AS key FROM sim"
    for i in range(dedup.SIMHASH_BYTES)
)

_Q26_ORACLE = f"""
    WITH {_SIMHASH_CTES},
    bands AS ({_SIMBANDS_SQL})
    SELECT * FROM (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ) WHERE hamming <= 3
    UNION ALL
    SELECT doc_id AS id_a, CAST(-1 AS BIGINT) AS id_b, simhash AS hamming
    FROM sim
"""


@query("q26_simhash_pairs", _Q26_ORACLE)
def q26_simhash_pairs(spark, sf_dir):
    """Byte-banded SimHash pairs within Hamming distance 3 — the radius
    where 4-byte pigeonhole blocking guarantees full recall.

    r19 fold: absorbs q25_simhash (registry.MERGED) — the output unions
    a per-document sentinel section (id_b = -1) whose ``hamming`` column
    carries the raw 32-bit simhash, so the driver row pins the sketch
    relation VALUE-exactly alongside the pair funnel. The sketch is
    computed once and feeds both sections (simhash_pairs persists its
    band relation; the sentinel section reads the same sim input)."""
    docs = _t(spark, sf_dir, "documents")
    sim = dedup.simhash(docs)
    pairs = dedup.simhash_pairs(sim, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )
    sentinel = sim.select(
        F.col("doc_id").alias("id_a"),
        F.lit(-1).cast("long").alias("id_b"),
        F.col("simhash").alias("hamming"),
    )
    return pairs.unionByName(sentinel)


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup with stop-shingle pruning
# ---------------------------------------------------------------------------

_Q27_ORACLE = f"""
    WITH t AS (SELECT doc_id, {TH.sql_tokens('text')} AS toks FROM documents),
    gr AS (SELECT doc_id, unnest({TH.sql_word_ngrams('toks', 3)}) AS g FROM t),
    rare AS (
        SELECT g FROM (SELECT g, count(*) AS c FROM gr GROUP BY g)
        WHERE c <= 20
    ),
    gp AS (SELECT gr.doc_id, gr.g FROM gr JOIN rare USING (g)),
    sizes AS (SELECT doc_id, count(*) AS n FROM gp GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM gp a JOIN gp b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT * FROM (
        SELECT s.id_a, s.id_b,
               CAST(s.inter AS DOUBLE) / (na.n + nb.n - s.inter) AS jaccard
        FROM shared s
        JOIN sizes na ON na.doc_id = s.id_a
        JOIN sizes nb ON nb.doc_id = s.id_b
    ) WHERE jaccard >= 0.4
"""


@query("q27_ngram_jaccard_pairs", _Q27_ORACLE)
def q27_ngram_jaccard_pairs(spark, sf_dir):
    """Word-3-gram Jaccard >= 0.4 pairs, blocked by shared rare n-grams
    (doc-frequency cap 20 = the stop-shingle guard)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.4, max_df=20)


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------


_sql_dot = simsearch.sql_dot  # chunk-unrolled, same association order


_EMB_CTES = f"""
    c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cn AS (SELECT vec_id, label, v, sqrt({_sql_dot('v', 'v')}) AS nrm FROM c)
"""

_PROBE_FILTER = "vec_id % 50 = 0"


_Q28_ORACLE = f"""
    WITH {_EMB_CTES},
    p AS (SELECT vec_id AS probe_id, v AS q, nrm AS qn FROM cn
          WHERE {_PROBE_FILTER}),
    scored AS (
        SELECT p.probe_id, cn.vec_id,
               {_sql_dot('cn.v', 'p.q')} / (cn.nrm * p.qn) AS score
        FROM cn, p WHERE cn.vec_id <> p.probe_id
    )
    SELECT probe_id, vec_id, score, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY score DESC, vec_id
        ) AS rank FROM scored
    ) WHERE rank <= 5
"""


def q28_bench_brute(spark, sf_dir):
    """Bench body: the exact cosine top-5 ALONE (the pre-r18 q28 plan,
    kept separate so the headline series stays comparable — the q114
    sentinel-split precedent; the registered face below adds the PQ
    fold, whose train/encode cost is benched by ann_ivfpq_build_query)."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    return simsearch.knn_brute(emb, probes, k=5)


@query("q28_knn_brute", _Q28_ORACLE)
def q28_knn_brute(spark, sf_dir):
    """Exact cosine top-5 for every 50th vector as probe (the ANN
    baseline/evaluation path).

    r18 fold of the staged q151 (the r17 verdict's window-deadlock
    escape): the SAME relation is also computed through the full PQ
    kernel — train the codebook, encode the corpus to 32x-compressed
    codes, ADC-shortlist EVERY candidate, exact-cosine rerank — which
    by construction equals brute force when the shortlist is the whole
    corpus. ``assert_df_identical`` refuses on any divergence before
    returning, so the single driver row certifies BOTH the baseline
    and the train->encode->ADC->rerank path end to end (the kernel the
    pruned pq/IVF tiers share; their recall is pinned in pytest)."""
    from .operators import pq
    from .queries_relational import assert_df_identical

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    brute = simsearch.knn_brute(emb, probes, k=5)
    book = pq.pq_train(emb, m=8, k=16)
    codes = pq.pq_encode(emb, book)
    reranked = pq.pq_search(
        codes, probes, book, k=5, shortlist=emb.count(), rerank_with=emb
    )
    assert_df_identical(
        brute, reranked, "q28: PQ full-shortlist rerank vs brute force"
    )
    return brute


def _sql_plane_literal(p: int) -> str:
    vals = ", ".join(f"{float(v)}" for v in simsearch.HYPERPLANES[p])
    return f"([{vals}]::DOUBLE[])"


_SQL_BUCKET = " + ".join(
    f"CASE WHEN {_sql_dot('v', _sql_plane_literal(p))} > 0"
    f" THEN {1 << p} ELSE 0 END"
    for p in range(simsearch.N_PLANES)
)

_Q29_ORACLE = f"""
    WITH {_EMB_CTES},
    cb AS (SELECT vec_id, v, nrm, {_SQL_BUCKET} AS bucket FROM cn),
    p AS (SELECT vec_id AS probe_id, v AS q, nrm AS qn, bucket FROM cb
          WHERE {_PROBE_FILTER}),
    scored AS (
        SELECT p.probe_id, cb.vec_id,
               {_sql_dot('cb.v', 'p.q')} / (cb.nrm * p.qn) AS score
        FROM cb JOIN p ON cb.bucket = p.bucket AND cb.vec_id <> p.probe_id
    )
    SELECT probe_id, vec_id, score, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY score DESC, vec_id
        ) AS rank FROM scored
    ) WHERE rank <= 5
"""


@query("q29_knn_lsh", _Q29_ORACLE)
def q29_knn_lsh(spark, sf_dir):
    """LSH-bucketed ANN: probes only score vectors sharing their
    8-hyperplane sign bucket (candidate set ~ corpus/256)."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    return simsearch.knn_lsh(emb, probes, k=5)


_Q30_ORACLE = f"""
    WITH {_EMB_CTES},
    p AS (SELECT vec_id AS probe_id, v AS q, nrm AS qn, label FROM cn
          WHERE {_PROBE_FILTER}),
    scored AS (
        SELECT p.probe_id, cn.vec_id,
               {_sql_dot('cn.v', 'p.q')} / (cn.nrm * p.qn) AS score
        FROM cn JOIN p ON cn.label = p.label AND cn.vec_id <> p.probe_id
    )
    SELECT probe_id, vec_id, score, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY score DESC, vec_id
        ) AS rank FROM scored
    ) WHERE rank <= 5
"""


@query("q30_knn_ivf", _Q30_ORACLE)
def q30_knn_ivf(spark, sf_dir):
    """IVF-style ANN: probes score only their coarse cluster (label) —
    the inverted-file pruning pattern."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    return simsearch.knn_ivf(emb, probes, k=5)


# Shared by q31/q82: planted-duplicate embedding corpus (every 25th vector
# gets a perturbed copy under a shifted id) + bucket-blocked cosine pairs.
_EMB_DUP_CTES = f"""
    u AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS vec_id,
               [CASE WHEN i = 1 THEN w[i] * 1.05 ELSE w[i] END
                FOR i IN generate_series(1, len(w))] AS v
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS w FROM embeddings)
        WHERE vec_id % 25 = 0
    ),
    cn AS (SELECT vec_id, v, sqrt({_sql_dot('v', 'v')}) AS nrm FROM u),
    cb AS (SELECT vec_id, v, nrm, {_SQL_BUCKET} AS bucket FROM cn),
    epairs AS (
        SELECT * FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_sql_dot('a.v', 'b.v')} / (a.nrm * b.nrm) AS score
            FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        ) WHERE score >= 0.95
    )
"""

_Q31_ORACLE = f"WITH {_EMB_DUP_CTES} SELECT id_a, id_b, score FROM epairs"


def _planted_embedding_corpus(emb):
    """(vec_id, embedding double[]) with perturbed copies of every 25th
    vector planted under shifted ids — the Spark half of _EMB_DUP_CTES."""
    v = simsearch.as_double("embedding")
    base = emb.select("vec_id", v.alias("embedding"))
    perturbed = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            v, lambda x, i: F.when(i == 0, x * 1.05).otherwise(x)
        ).alias("embedding"),
    )
    return base.unionByName(perturbed)


@query("q31_embedding_dup_pairs", _Q31_ORACLE)
def q31_embedding_dup_pairs(spark, sf_dir):
    """Embedding near-duplicates over a corpus with planted perturbed
    copies (every 25th vector, first coordinate scaled 1.05x): cosine
    >= 0.95 pairs, LSH-bucket-blocked. A perturbed copy whose bucket
    flips is missed identically in both engines (same bucket function)."""
    emb = _t(spark, sf_dir, "embeddings")
    return simsearch.embedding_dup_pairs(
        _planted_embedding_corpus(emb), threshold=0.95
    )


# ---------------------------------------------------------------------------
# Multimodal: binary media columns + Arrow-batched decode (operators/multimodal)
# ---------------------------------------------------------------------------

# The fake decoder computes byte statistics over the utf-8 payload; text is
# pure ASCII, so DuckDB reproduces them with character-code arithmetic.
# Integer byte sums are exact in float64 -> mean_intensity matches exactly.

_Q32_ORACLE = """
    SELECT doc_id,
           CAST(len(text) AS INTEGER) AS n_bytes,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(generate_series(1, len(text)),
                               i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
                (a, b) -> a + b) AS DOUBLE) / len(text) AS mean_intensity,
           CAST((n_chars % 64) + 16 AS INTEGER) AS width,
           CAST((doc_id % 32) + 8 AS INTEGER) AS height
    FROM documents
"""


@query("q32_media_decode", _Q32_ORACLE)
def q32_media_decode(spark, sf_dir):
    """Binary media decode through Arrow-batched mapInPandas (the one
    sanctioned Python hot path): byte stats per media payload."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.decode_media(multimodal.media_from_documents(docs))


_Q33_ORACLE = """
    SELECT doc_id,
           CAST(len(frames) AS INTEGER) AS n_frames,
           array_to_string(frames, ',') AS frames_csv
    FROM (
        SELECT doc_id,
               [CAST(ascii(substring(text, i, 1)) AS INTEGER)
                FOR i IN generate_series(1, len(text), 32)] AS frames
        FROM documents
    )
"""


@query("q33_frame_sample", _Q33_ORACLE)
def q33_frame_sample(spark, sf_dir):
    """Frame sampling over binary media (every 32nd byte) via mapInPandas.

    The sampled bytes are serialized to a CSV string for the harness: the
    driver's pandas canonicalizer cannot hash raw array cells, so both
    engines emit ``array_join(frames, ',')`` / ``array_to_string`` instead.
    """
    docs = _t(spark, sf_dir, "documents")
    sampled = multimodal.frame_sample(multimodal.media_from_documents(docs), every=32)
    return sampled.select(
        "doc_id",
        "n_frames",
        F.array_join(F.col("frames").cast("array<string>"), ",").alias("frames_csv"),
    )


_Q102_ORACLE = """
    SELECT doc_id,
           CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
           CAST(len(text) AS INTEGER) AS n_samples,
           CAST(len(text) AS DOUBLE) / (8000 + (doc_id % 4) * 4000)
               AS duration_s,
           CASE WHEN len(text) = 0 THEN 0.0
                ELSE sqrt(
                    CAST(COALESCE(list_sum(
                        [CAST((ascii(substring(text, i, 1)) - 128) * 256
                              AS BIGINT)
                         * CAST((ascii(substring(text, i, 1)) - 128) * 256
                                AS BIGINT)
                         FOR i IN generate_series(1, len(text), 1)]
                    ), 0) AS DOUBLE) / len(text))
           END AS rms
    FROM documents
"""


@query("q102_audio_decode", _Q102_ORACLE)
def q102_audio_decode(spark, sf_dir):
    """REAL audio decode: documents -> conformant RIFF/WAV containers
    (stdlib ``wave`` writer, one 16-bit PCM sample per text byte) ->
    stdlib ``wave`` parse back out through Arrow-batched mapInPandas.
    Unlike the Pillow/PyAV gates this modality needs no external library,
    so the decode is real end-to-end in this environment. The UDF emits
    only exact integers (frame count, rate, int64 sum of squares); float
    features — duration and RMS loudness — are derived JVM-side so both
    engines run the identical single division + sqrt."""
    docs = _t(spark, sf_dir, "documents")
    dec = multimodal.decode_audio(multimodal.wav_from_documents(docs))
    return dec.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        (F.col("n_samples").cast("double") / F.col("sample_rate")).alias(
            "duration_s"
        ),
        F.when(F.col("n_samples") == 0, F.lit(0.0))
        .otherwise(
            F.sqrt(F.col("sum_sq").cast("double") / F.col("n_samples"))
        )
        .alias("rms"),
    )


_Q108_ORACLE = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'P5' ELSE 'P6' END AS format,
           CAST((doc_id % 16) + 4 AS INTEGER) AS width,
           CAST(GREATEST(1, (len(text) + (doc_id % 16) + 3)
                            // ((doc_id % 16) + 4)) AS INTEGER) AS height,
           CAST(COALESCE(list_sum(
                [CAST(ascii(substring(text, i, 1)) AS BIGINT)
                 FOR i IN generate_series(1, len(text), 1)]), 0) AS DOUBLE)
           / (((doc_id % 16) + 4)
              * GREATEST(1, (len(text) + (doc_id % 16) + 3)
                            // ((doc_id % 16) + 4))) AS mean_intensity
    FROM documents
"""


@query("q108_image_decode", _Q108_ORACLE)
def q108_image_decode(spark, sf_dir):
    """REAL image decode: documents -> conformant binary PNM containers
    (P5 grayscale for even doc_ids, P6 RGB with r=g=b for odd — one
    text byte per pixel, zero-padded last row) -> genuine header parse +
    pixel extraction through Arrow-batched mapInPandas. Like q102's WAV
    path, this modality needs no external library, so the decode runs
    real end-to-end here (the Pillow gate remains for compressed
    formats). The UDF emits exact integers only; mean intensity =
    pix_sum / (w*h*channels) is derived JVM-side — for the r=g=b
    fixture, bit-identical to the oracle's sum/(w*h) because IEEE
    division of (3s)/(3n) rounds identically to s/n."""
    docs = _t(spark, sf_dir, "documents")
    dec = multimodal.decode_pnm(multimodal.pnm_from_documents(docs))
    return dec.select(
        "doc_id",
        "format",
        "width",
        "height",
        (
            F.col("pix_sum").cast("double")
            / (F.col("width") * F.col("height") * F.col("channels"))
        ).alias("mean_intensity"),
    )


_Q122_ORACLE = """
    WITH geo AS (
        SELECT doc_id, text,
               CAST((doc_id % 16) + 4 AS INTEGER) AS width,
               CAST(GREATEST(1, (len(text) + (doc_id % 16) + 3)
                                // ((doc_id % 16) + 4)) AS INTEGER) AS height
        FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 2 END AS INTEGER)
               AS color_type,
           width, height,
           CAST(list_sum(list_distinct(
               [CAST(1 << ((doc_id + r) % 5) AS BIGINT)
                FOR r IN generate_series(0, height - 1, 1)])) AS INTEGER)
               AS filter_mask,
           CAST(COALESCE(list_sum(
               [CAST(ascii(substring(text, i, 1)) AS BIGINT)
                FOR i IN generate_series(1, len(text), 1)]), 0) AS DOUBLE)
           / (width * height) AS mean_intensity
    FROM geo
"""


@query("q122_png_decode", _Q122_ORACLE)
def q122_png_decode(spark, sf_dir):
    """REAL compressed-image decode, no external library: documents ->
    conformant PNGs (q108's geometry — one text byte per pixel, even
    doc_ids 8-bit grayscale, odd RGB r=g=b — but scanline r filtered
    with type ``(doc_id + r) % 5``, so every PNG unfilter branch
    None/Sub/Up/Average/Paeth executes) -> stdlib chunk-CRC validation,
    zlib IDAT inflate, and spec-exact per-scanline unfiltering through
    Arrow-batched mapInPandas. ``filter_mask`` comes from the filter
    bytes the DECODER actually saw, restated by the oracle from the
    fixture rule — a hash match proves the compressed round trip and
    all five filter paths, not just geometry. mean_intensity =
    pix_sum / (w*h*channels) is derived JVM-side; for the r=g=b fixture
    IEEE division of (3s)/(3n) rounds identically to s/n (the q108
    argument). Pillow remains the gate for JPEG/16-bit/palette/
    interlaced variants."""
    docs = _t(spark, sf_dir, "documents")
    dec = multimodal.decode_png(multimodal.png_from_documents(docs))
    return dec.select(
        "doc_id",
        "color_type",
        "width",
        "height",
        "filter_mask",
        (
            F.col("pix_sum").cast("double")
            / (F.col("width") * F.col("height") * F.col("channels"))
        ).alias("mean_intensity"),
    )


# ---------------------------------------------------------------------------
# Repetition filter + the end-to-end cleaning pipeline
# ---------------------------------------------------------------------------

_Q37_ORACLE = f"""
    SELECT doc_id, {TH.sql_repetition_ratio(TH.sql_tokens('text'))} AS rep_ratio
    FROM documents
"""


@query("q37_repetition_ratio", _Q37_ORACLE)
def q37_repetition_ratio(spark, sf_dir):
    """Gopher-style repetition filter: duplicate-2-gram mass per doc —
    a narrow no-shuffle projection over the scan."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TH.repetition_ratio(TH.tokens(F.col("text"))).alias("rep_ratio"),
    )


_PAIRS_CORE = f"""
    bands AS ({_BANDS_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT * FROM (
            SELECT s.id_a, s.id_b,
                   CAST(s.inter AS DOUBLE) / (na.n + nb.n - s.inter) AS jaccard
            FROM shared s
            JOIN sizes na ON na.doc_id = s.id_a
            JOIN sizes nb ON nb.doc_id = s.id_b
        ) WHERE jaccard >= 0.5
    )
"""

# Connected components over the verified pair list (recursive reachability
# closure; the engine side is iterative min-label propagation —
# dedup.dedup_clusters). cluster_id = min id of the component.
_CLUSTER_CTES = """
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    walk(id, reach) AS (
        SELECT src, src FROM edges
        UNION
        SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    ),
    clusters AS (SELECT id, min(reach) AS cluster_id FROM walk GROUP BY id)
"""

_Q43_ORACLE = f"""
    WITH RECURSIVE {_SIG_CTES.strip()},
    {_PAIRS_CORE.strip()},
    {_CLUSTER_CTES.strip()}
    SELECT id AS doc_id, cluster_id FROM clusters
"""


@query("q43_dedup_clusters", _Q43_ORACLE)
def q43_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: connected components over the verified MinHash
    pair list (q24), cluster_id = min doc_id per component. The step
    between candidate pairs and deletion in large-corpus dedup — per-pair
    deletion over-deletes on chains A~B~C."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.5)
    return dedup.dedup_clusters(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


_Q111_ORACLE = f"""
    WITH RECURSIVE {_SIG_CTES.strip()},
    {_PAIRS_CORE.strip()},
    {_CLUSTER_CTES.strip()},
    labeled AS (
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               {TH.sql_quality_score('d.text')} AS quality
        FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id
    ),
    sized AS (
        SELECT *,
               count(*) OVER (PARTITION BY cluster_id) AS n_members,
               row_number() OVER (
                   PARTITION BY cluster_id ORDER BY quality DESC, doc_id
               ) AS rn
        FROM labeled
    )
    SELECT cluster_id, doc_id AS canonical_doc, n_members, quality
    FROM sized WHERE rn = 1
"""


@query("q111_cluster_canonical", _Q111_ORACLE)
def q111_cluster_canonical(spark, sf_dir):
    """The dedup DECISION step large-corpus pipelines actually ship:
    after near-dup clustering (q43), keep exactly ONE representative per
    cluster — the highest-quality member, doc_id tie-break — with every
    un-clustered document its own singleton cluster. Composes
    dedup_clusters with cap_per_group(k=1), so the selection inherits
    the shuffle-input-bounding per-partition pre-prune: at 100 TB the
    per-cluster choice never ships more than k rows per partition per
    cluster to the rank window. Output is one row per SURVIVING
    document (cluster_id, canonical_doc, n_members, quality)."""
    from .operators.sampling import cap_per_group

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.5)
    clusters = dedup.dedup_clusters(pairs).withColumnRenamed("id", "doc_id")
    labeled = (
        docs.join(clusters, "doc_id", "left")
        .withColumn(
            "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
        )
        .select(
            "doc_id",
            "cluster_id",
            TH.quality_score(TH.tokens(F.col("text"))).alias("quality"),
        )
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    best = cap_per_group(
        labeled, "cluster_id", [("quality", "desc"), ("doc_id", "asc")], k=1
    )
    # quality ships unrounded: both engines compute bit-identical doubles
    # (q21's parity), while round(x, 4) disagrees at half-boundaries
    # (Java shortest-repr HALF_UP vs DuckDB binary-value rounding)
    return best.join(sizes, "cluster_id").select(
        "cluster_id",
        F.col("doc_id").alias("canonical_doc"),
        "n_members",
        "quality",
    )


_Q38_ORACLE = f"""
    WITH RECURSIVE pass1 AS (
        SELECT doc_id, text, {TH.sql_quality_score('text')} AS quality
        FROM documents
        WHERE {TH.sql_quality_score('text')} >= 0.5
          AND {TH.sql_lang_id('text')} = 'en'
    ),
    keep AS (SELECT md5(text) AS ch, min(doc_id) AS doc_id FROM pass1 GROUP BY 1),
    kept AS (
        SELECT p.* FROM pass1 p
        JOIN keep k ON p.doc_id = k.doc_id AND md5(p.text) = k.ch
    ),
    {_sig_ctes('kept').lstrip()},
    {_PAIRS_CORE.strip()},
    {_CLUSTER_CTES.strip()}
    SELECT doc_id, round(quality, 4) AS quality
    FROM kept
    WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id != cluster_id)
"""


def q38_bench_pipeline(spark, sf_dir):
    """Bench body: the hand-composed cleaning chain ALONE (the pre-r18
    q38 plan, kept separate so the headline series stays comparable —
    the q114 sentinel-split precedent; the registered face below adds
    the spec-runner fold)."""
    docs = _t(spark, sf_dir, "documents")
    pass1 = text_analysis.quality_lang_gate(docs).select(
        "doc_id", "text", "quality"
    )
    # kept feeds BOTH the MinHash signature branch and the survivor
    # anti-join. Lazy localCheckpoint (not a session persist): the
    # quality/lang/exact-dedup prefix computes exactly once — inside the
    # first consuming action, no extra materialization job — and the
    # checkpoint blocks have an owner: the ContextCleaner reclaims them
    # when the returned DataFrame is released, so a shared cluster isn't
    # left holding an unowned LRU cache entry.
    kept = dedup.exact_dedup(pass1).localCheckpoint(eager=False)
    pairs = dedup.minhash_dedup_pairs(kept, threshold=0.5)
    return dedup.cluster_survivors(kept, pairs).select(
        "doc_id", F.round("quality", 4).alias("quality")
    )


@query("q38_cleaning_pipeline", _Q38_ORACLE)
def q38_cleaning_pipeline(spark, sf_dir):
    """The flagship LLM-corpus query: quality gate -> language gate ->
    exact dedup -> MinHash near-dup clustering + component-level survivor
    selection, composed from the operator library — each stage feeds the
    next without materializing, so Catalyst plans the whole pipeline as
    one DAG (the iterative clustering step materializes per round by
    construction).

    r18 fold of the staged q155 (window-deadlock escape): the SAME
    chain is also executed as a plain list-of-dicts spec through
    ``run_corpus_pipeline``, and ``assert_df_identical`` refuses on any
    divergence — one driver row certifies that spec execution is
    semantics-identical to the hand-written composition."""
    from .operators.corpus_pipeline import run_corpus_pipeline
    from .queries_relational import assert_df_identical

    hand = q38_bench_pipeline(spark, sf_dir)
    spec = [
        {"op": "quality_lang", "min_quality": 0.5, "lang": "en"},
        {"op": "exact_dedup"},
        {"op": "near_dedup", "method": "minhash", "threshold": 0.5},
    ]
    docs = _t(spark, sf_dir, "documents")
    via_spec = run_corpus_pipeline(spark, docs, spec).select(
        "doc_id", F.round("quality", 4).alias("quality")
    )
    assert_df_identical(
        hand, via_spec, "q38: spec-runner chain vs hand composition"
    )
    return hand


# ---------------------------------------------------------------------------
# Benchmark decontamination + deterministic sampling
# ---------------------------------------------------------------------------

# benchmark = every 97th doc (deterministic held-out set); candidates = rest
_Q44_ORACLE = f"""
    WITH bench_t AS (
        SELECT {TH.sql_tokens('text')} AS toks FROM documents
        WHERE doc_id % 97 = 0
    ),
    bg AS (
        SELECT DISTINCT unnest({TH.sql_word_ngrams('toks', 3)}) AS g
        FROM bench_t
    ),
    cand_t AS (
        SELECT doc_id, {TH.sql_tokens('text')} AS toks FROM documents
        WHERE doc_id % 97 <> 0
    ),
    cg AS (
        SELECT doc_id, unnest({TH.sql_word_ngrams('toks', 3)}) AS g
        FROM cand_t
    )
    SELECT doc_id, count(*) AS n_shared
    FROM cg JOIN bg USING (g)
    GROUP BY doc_id
"""


@query("q44_decontaminate", _Q44_ORACLE)
def q44_decontaminate(spark, sf_dir):
    """Benchmark decontamination: per-candidate count of distinct word-3-
    grams shared with the held-out set (docs where doc_id%97=0). The
    reference gram set is the natural broadcast side at scale (AQE
    decides; no forced hint)."""
    from .operators import decontam

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    cand = docs.filter(F.col("doc_id") % 97 != 0)
    return decontam.ngram_overlap(cand, bench, n=3)


_SAMPLE_RATES = {"src0": 0.8, "src1": 0.5}
_SAMPLE_DEFAULT = 0.25

_Q45_ORACLE = f"""
    SELECT doc_id, source
    FROM documents
    WHERE {sampling.sql_sample_bucket('doc_id')} <
          CASE WHEN source = 'src0' THEN 8000
               WHEN source = 'src1' THEN 5000
               ELSE 2500 END
"""


@query("q45_stratified_sample", _Q45_ORACLE)
def q45_stratified_sample(spark, sf_dir):
    """Deterministic per-source sampling (80% src0, 50% src1, 25% rest):
    keep/drop is a pure hash of doc_id, so the sample is reproducible
    across runs, partitionings, and engines — a narrow codegen'd filter,
    no shuffle."""
    from .operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs, _SAMPLE_RATES, _SAMPLE_DEFAULT
    ).select("doc_id", "source")


_CHUNK_SIZE, _CHUNK_OVERLAP = 64, 16
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP

_Q46_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {TH.sql_tokens('text')} AS toks FROM documents
    ),
    st AS (
        SELECT doc_id, toks,
               unnest(generate_series(
                   1, greatest(len(toks) - {_CHUNK_OVERLAP}, 1), {_CHUNK_STRIDE}
               )) AS start
        FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST((start - 1) // {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
           array_to_string(
               list_slice(toks, start, start + {_CHUNK_SIZE} - 1), ' '
           ) AS chunk_text,
           least(len(toks) - start + 1, {_CHUNK_SIZE}) AS n_tokens
    FROM st
"""


# r19 fold: q46_token_chunks retired into q50_pack_chunks
# (registry.MERGED) — the pack face's widened output carries the full
# overlap-chunking relation as its 'chunk' section (chunk_text pinned by
# the exact fingerprint), so one driver row attests chunk_tokens at BOTH
# parameterizations (64/16 with text, 64/0 feeding the packer).


_PACK_BUDGET, _PACK_SHARDS = 256, 8

# pack-section value encoding: shard (<8) . pack_id . pack_pos (<256)
# packed into one BIGINT so both sections share a (part, doc_id,
# chunk_id, n_tokens, v) schema — pack_id is bounded by shard token
# mass / budget, far under 2^24 at any tested SF.
_PACK_V = "shard * {s} + pack_id * {p} + pack_pos".format(
    s=1 << 40, p=1 << 16
)

# the raw packed relation (the pre-r19 q50 oracle) — still referenced
# by q120_pack_efficiency's rollup; the registered q50 face normalizes
# it into the merged two-section shape below
_Q50_PACKED_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {TH.sql_tokens('text')} AS toks FROM documents
    ),
    st AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks), 1), 64)) AS start
        FROM t WHERE len(toks) > 0
    ),
    chunks AS (
        SELECT doc_id,
               CAST((start - 1) // 64 AS INTEGER) AS chunk_id,
               least(len(toks) - start + 1, 64) AS n_tokens,
               ({{shard}}) AS shard
        FROM st
    ),
    cum AS (
        SELECT doc_id, chunk_id, n_tokens, shard,
               sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id, chunk_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS start_tok
        FROM chunks
    )
    SELECT doc_id, chunk_id, n_tokens, shard,
           CAST(floor(CAST(start_tok AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT)
               AS pack_id,
           CAST(start_tok % {_PACK_BUDGET} AS BIGINT) AS pack_pos
    FROM cum
""".replace(
    "{shard}",
    f"{TH.sql_poly_hash('CAST(doc_id AS VARCHAR)')} % {_PACK_SHARDS}",
)

_Q50_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {TH.sql_tokens('text')} AS toks FROM documents
    ),
    stc AS (
        SELECT doc_id, toks,
               unnest(generate_series(
                   1, greatest(len(toks) - {_CHUNK_OVERLAP}, 1), {_CHUNK_STRIDE}
               )) AS start
        FROM t WHERE len(toks) > 0
    ),
    chunkc AS (
        SELECT doc_id,
               CAST((start - 1) // {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
               array_to_string(
                   list_slice(toks, start, start + {_CHUNK_SIZE} - 1), ' '
               ) AS chunk_text,
               least(len(toks) - start + 1, {_CHUNK_SIZE}) AS n_tokens
        FROM stc
    )
    SELECT 'chunk' AS part, doc_id, chunk_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           {TH.sql_fingerprint('chunk_text')} AS v
    FROM chunkc
    UNION ALL
    SELECT 'pack' AS part, doc_id, chunk_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST({_PACK_V} AS BIGINT) AS v
    FROM ({_Q50_PACKED_ORACLE})
"""


@query("q50_pack_chunks", _Q50_ORACLE)
def q50_pack_chunks(spark, sf_dir):
    """Sequence packing: 64-token chunks greedily packed into 256-token
    context windows, sharded by a document hash so the running-total
    window parallelizes (window parallelism = shard count).

    r19 fold: absorbs q46_token_chunks (registry.MERGED) — the output is
    a two-section normalized relation: the 'chunk' section is the full
    64/16 overlap-chunking relation with chunk_text pinned by the exact
    fingerprint, and the 'pack' section encodes (shard, pack_id,
    pack_pos) into one BIGINT. Both generators share one tokenized scan
    projection; one driver row attests chunking AND packing."""
    docs = _t(spark, sf_dir, "documents")
    overlap_chunks = text_analysis.chunk_tokens(
        docs, chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
    )
    chunk_rows = overlap_chunks.select(
        F.lit("chunk").alias("part"),
        "doc_id",
        "chunk_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        TH.fingerprint(F.col("chunk_text")).alias("v"),
    )
    packed = text_analysis.pack_chunks(
        text_analysis.chunk_tokens(docs, chunk_size=64, overlap=0).drop(
            "chunk_text"
        ),
        budget=_PACK_BUDGET,
        n_shards=_PACK_SHARDS,
    )
    pack_rows = packed.select(
        F.lit("pack").alias("part"),
        "doc_id",
        "chunk_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (
            F.col("shard").cast("long") * F.lit(1 << 40)
            + F.col("pack_id") * F.lit(1 << 16)
            + F.col("pack_pos")
        )
        .cast("long")
        .alias("v"),
    )
    return chunk_rows.unionByName(pack_rows)


# The corpus has no newlines, so — like q22's planted duplicates — both
# engines first synthesize lines deterministically (a line break every
# _LINE_W tokens), then run the generic line-dedup operator on the result.
_LINE_W = 5  # tokens per synthesized line
_LINE_MAX_DOCS = 2  # drop lines appearing in more than this many docs

_Q47_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {TH.sql_tokens('text')} AS toks FROM documents
    ),
    lined AS (
        SELECT doc_id, array_to_string(
            [array_to_string(list_slice(toks, i, i + {_LINE_W - 1}), ' ')
             FOR i IN generate_series(1, greatest(len(toks), 1), {_LINE_W})],
            chr(10)) AS text
        FROM t
    ),
    split_l AS (
        SELECT doc_id, string_split(text, chr(10)) AS lines FROM lined
    ),
    l AS (
        SELECT doc_id,
               unnest([{{'ln': i, 'line': lines[i]}}
                       FOR i IN generate_series(1, len(lines))],
                      recursive := true)
        FROM split_l
    ),
    freq AS (
        SELECT line FROM l
        GROUP BY line HAVING count(DISTINCT doc_id) > {_LINE_MAX_DOCS}
    ),
    kept AS (SELECT l.* FROM l ANTI JOIN freq USING (line)),
    rebuilt AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY ln) AS clean_text,
               count(*) AS n_lines_kept
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, len(lines) AS n_lines,
           coalesce(n_lines_kept, 0) AS n_lines_kept,
           coalesce(clean_text, '') AS clean_text
    FROM split_l d LEFT JOIN rebuilt USING (doc_id)
"""


@query("q47_line_dedup", _Q47_ORACLE)
def q47_line_dedup(spark, sf_dir):
    """C4/CCNet-style line-level boilerplate removal: lines occurring in
    more than _LINE_MAX_DOCS distinct documents are dropped; surviving
    lines are reassembled in order. One DF shuffle on the line value, an
    AQE-broadcast anti join against the (small) frequent set, one
    reassembly shuffle on doc_id."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.col("_toks")
    lined = (
        docs.withColumn("_toks", TH.tokens(F.col("text")))
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size(toks), F.lit(1)),
                        F.lit(_LINE_W),
                    ),
                    lambda i: F.array_join(F.slice(toks, i, _LINE_W), " "),
                ),
                "\n",
            ).alias("text"),
        )
    )
    return lines.remove_boilerplate_lines(lined, max_docs=_LINE_MAX_DOCS)


# r19 fold (q88_bigram_logprob -> q48, registry.MERGED): one face
# carries BOTH language-model fluency scores per document. The oracle
# shares the token stream and term-frequency relation between the
# unigram scorer and the bigram model's unigram denominator (c1 = tf).
_Q48_ORACLE = f"""
    WITH stream AS (
        SELECT doc_id, unnest({TH.sql_tokens('text')}) AS tok FROM documents
    ),
    tf AS (SELECT tok, count(*) AS tf FROM stream GROUP BY tok),
    lp AS (
        SELECT tok,
               CAST(floor(log10(CAST(tf AS DOUBLE) / (SELECT sum(tf) FROM tf))
                          * {text_analysis.LP_SCALE} + 0.5) AS BIGINT) AS lp
        FROM tf
    ),
    uni_doc AS (
        SELECT doc_id, count(*) AS n_tokens,
               floor(CAST(sum(lp) AS DOUBLE) / count(*)
                     / {text_analysis.LP_SCALE} * 1e4 + 0.5) / 1e4 AS logprob
        FROM stream JOIN lp USING (tok)
        GROUP BY doc_id
    ),
    toks AS (SELECT doc_id, {TH.sql_tokens('text')} AS t FROM documents),
    big AS (
        SELECT doc_id, b.w1 AS w1, b.w2 AS w2
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(t) - 1),
                       i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS b
            FROM toks WHERE len(t) >= 2
        )
    ),
    model AS (
        SELECT w1, w2,
               CAST(floor(log10(CAST(c2 + 1 AS DOUBLE)
                                / (c1 + (SELECT count(*) FROM tf)))
                          * {text_analysis.LP_SCALE} + 0.5) AS BIGINT) AS blp
        FROM (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2)
        JOIN (SELECT tok AS w1, tf AS c1 FROM tf) USING (w1)
    ),
    big_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               floor(CAST(sum(blp) AS DOUBLE) / count(*)
                     / {text_analysis.LP_SCALE} * 1e4 + 0.5) / 1e4 AS blogprob
        FROM big JOIN model USING (w1, w2)
        GROUP BY doc_id
    )
    SELECT u.doc_id, u.n_tokens, u.logprob,
           CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           b.blogprob AS bigram_logprob
    FROM uni_doc u LEFT JOIN big_doc b USING (doc_id)
"""


def q48_bench_unigram(spark, sf_dir):
    """Bench body: the unigram perplexity proxy ALONE (the pre-r19 q48
    plan, kept under its historical bench key after the q88 fold)."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.unigram_logprob(docs)


@query("q48_unigram_logprob", _Q48_ORACLE)
def q48_unigram_logprob(spark, sf_dir):
    """CCNet-style perplexity proxy: mean unigram log10-prob per document
    under the corpus's own unigram model. Per-token scores are fixed-point
    int64 before the (order-nondeterministic) sum, so both engines
    aggregate exactly.

    r19 fold: absorbs q88_bigram_logprob (registry.MERGED) — the face
    left-joins the add-one bigram fluency score onto the unigram
    relation (docs with < 2 tokens keep n_bigrams = 0 / NULL score), so
    one driver row attests both LM scoring kernels."""
    docs = _t(spark, sf_dir, "documents")
    uni = text_analysis.unigram_logprob(docs)
    big = text_analysis.bigram_logprob(docs).select(
        "doc_id",
        "n_bigrams",
        F.col("logprob").alias("bigram_logprob"),
    )
    return uni.join(big, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "logprob",
        F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
            "n_bigrams"
        ),
        "bigram_logprob",
    )


_Q52_ORACLE = f"""
    WITH tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest({TH.sql_tokens('text')}) AS tok
              FROM documents)
        GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    idf AS (
        SELECT tok,
               CAST(floor(log10(CAST((SELECT count(*) FROM documents) AS DOUBLE)
                                / df) * {text_analysis.LP_SCALE} + 0.5)
                    AS BIGINT) AS idf
        FROM dfreq
    ),
    scored AS (
        SELECT doc_id, tok, tf, tf * idf AS s,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY tf * idf DESC, tok
               ) AS rank
        FROM tf JOIN idf USING (tok)
    )
    SELECT doc_id, rank, tok, tf,
           floor(CAST(s AS DOUBLE) / {text_analysis.LP_SCALE} * 1e4 + 0.5)
               / 1e4 AS tfidf
    FROM scored WHERE rank <= 3
"""


@query("q52_tfidf_top_terms", _Q52_ORACLE)
def q52_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document: vocabulary-sized idf relation
    joined back (AQE broadcast), integer tf x fixed-point idf products so
    ranking is engine-exact, one per-doc top-k window."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.tfidf_top_terms(docs, k=3)


_SPAN_W = 5  # rolling window width (tokens) for exact-substring dedup

_Q51_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {TH.sql_tokens('text')} AS toks FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest([{{'pos': i,
                         'gram': array_to_string(
                             list_slice(toks, i, i + {_SPAN_W - 1}), chr(167))}}
                       FOR i IN generate_series(1, len(toks) - {_SPAN_W - 1})],
                      recursive := true)
        FROM t WHERE len(toks) >= {_SPAN_W}
    ),
    repeated AS (
        SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1
    ),
    occ AS (
        SELECT g.doc_id, g.pos, g.pos + {_SPAN_W - 1} AS e
        FROM g JOIN repeated USING (gram)
    ),
    marked AS (
        SELECT doc_id, pos, e,
               CASE WHEN max(e) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR pos > max(e) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) + 1
               THEN 1 ELSE 0 END AS brk
        FROM occ
    ),
    islands AS (
        SELECT doc_id, pos, e,
               sum(brk) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM marked
    )
    SELECT doc_id, min(pos) AS span_start, max(e) AS span_end,
           count(*) AS n_windows
    FROM islands GROUP BY doc_id, island
"""


@query("q51_duplicate_spans", _Q51_ORACLE)
def q51_duplicate_spans(spark, sf_dir):
    """Exact-substring dedup: maximal spans of 5-token runs that repeat in
    another document — the cut-list span-level dedup produces. One gram
    shuffle + AQE-broadcast repeat join + per-doc islands window."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicate_spans(docs, window=_SPAN_W)


# ---------------------------------------------------------------------------
# PII scrubbing + vocabulary building (corpus-preparation operators)
# ---------------------------------------------------------------------------

# The synthetic corpus contains no natural PII, so — like q22's planted
# duplicates — both engines deterministically inject emails/phones first,
# then redact them. RE2 (DuckDB) and Java regex agree on these patterns.

_EMAIL_PAT = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_PAT = r"555-[0-9]{4}"

_Q40_ORACLE = f"""
    WITH pii AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || doc_id || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' call 555-0142' ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_PAT}')) AS INTEGER)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_PAT}')) AS INTEGER)
               AS n_phones,
           regexp_replace(regexp_replace(text, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                          '{_PHONE_PAT}', '<PHONE>', 'g') AS clean
    FROM pii
"""


@query("q40_pii_redaction", _Q40_ORACLE)
def q40_pii_redaction(spark, sf_dir):
    """PII scrubbing: count + redact emails/phone numbers over a corpus
    with planted PII — narrow no-shuffle regex projection over the scan."""
    docs = _t(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555-0142")).otherwise(
            F.lit("")
        ),
    )
    return docs.select("doc_id", pii_text.alias("text")).select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_PAT), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_PAT), F.lit(0))).alias(
            "n_phones"
        ),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_PAT, "<EMAIL>"),
            _PHONE_PAT,
            "<PHONE>",
        ).alias("clean"),
    )


_Q41_ORACLE = f"""
    SELECT tok, count(*) AS df
    FROM (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest({TH.sql_tokens('text')}) AS tok
              FROM documents)
    )
    GROUP BY tok
    ORDER BY df DESC, tok
    LIMIT 20
"""


@query("q41_vocab_df", _Q41_ORACLE)
def q41_vocab_df(spark, sf_dir):
    """Vocabulary building: top-20 tokens by document frequency.
    ``array_distinct`` dedups per-doc BEFORE the explode, so the groupBy
    shuffle carries each (doc, token) once and the global DISTINCT
    disappears — at 100 TB that is the difference between shuffling the
    token stream and shuffling the vocabulary."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.array_distinct(TH.tokens(F.col("text")))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(20)
    )


_Q55_ORACLE = f"""
    WITH t AS (
        SELECT {TH.sql_tokens('text')} AS toks FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1])) AS pair
        FROM t WHERE len(toks) >= 2
    )
    SELECT pair, count(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC LIMIT 100
"""


@query("q55_bpe_pair_counts", _Q55_ORACLE)
def q55_bpe_pair_counts(spark, sf_dir):
    """Tokenizer-training statistic: corpus-wide adjacent token-pair
    frequencies (the relation one BPE merge iteration argmaxes over),
    top-100 under a total order. In-row pair construction, one shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.adjacent_pair_counts(docs, k=100)


_MIX_PARTS = {"en": 5, "de": 2, "fr": 2, "es": 1}  # zh absent -> dropped
_MIX_BUDGET = 200
_MIX_TOTAL = sum(_MIX_PARTS.values())

_Q56_ORACLE = f"""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang)
    SELECT doc_id, d.lang, source
    FROM documents d JOIN c USING (lang)
    WHERE {sampling.sql_sample_bucket('doc_id')} <
          least({sampling.SAMPLE_BUCKETS}, floor(
              {sampling.SAMPLE_BUCKETS}::BIGINT * {_MIX_BUDGET} *
              CASE d.lang WHEN 'en' THEN 5 WHEN 'de' THEN 2
                          WHEN 'fr' THEN 2 WHEN 'es' THEN 1 ELSE 0 END
              / ({_MIX_TOTAL} * n)))
"""


@query("q56_mixture_sample", _Q56_ORACLE)
def q56_mixture_sample(spark, sf_dir):
    """Corpus mixture dialing: keep ~200 docs split 5:2:2:1 across
    en/de/fr/es (zh unweighted -> dropped), thresholds derived from the
    observed per-language counts in exact integer math — one tiny count
    agg broadcast back, then a narrow hash filter."""
    from .operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.mixture_sample(
        docs, _MIX_PARTS, _MIX_BUDGET, strata_col="lang"
    ).select("doc_id", "lang", "source")


_KM_K, _KM_ITERS = 4, 2


def _q57_oracle():
    from .operators import kmeans as KM

    return KM.sql_kmeans_assign(k=_KM_K, iters=_KM_ITERS)


@query("q57_kmeans_assign", _q57_oracle())
def q57_kmeans_assign(spark, sf_dir):
    """IVF centroid training: 2 Lloyd's iterations from a deterministic
    seed, exact fixed-point centroid means so the unrolled SQL oracle
    reproduces every centroid and assignment bit-for-bit."""
    from .operators import kmeans as KM

    emb = _t(spark, sf_dir, "embeddings")
    return KM.kmeans_assign(emb, k=_KM_K, iters=_KM_ITERS)


_EC_THRESHOLD = 0.1

_Q58_ORACLE = f"""
    WITH {_EMB_CTES},
    cb AS (SELECT vec_id, v, nrm, {_SQL_BUCKET} AS bucket FROM cn),
    e AS (SELECT vec_id AS eval_id, v AS q, nrm AS qn, bucket FROM cb
          WHERE {_PROBE_FILTER}),
    t AS (SELECT vec_id AS id, v, nrm, bucket FROM cb
          WHERE NOT ({_PROBE_FILTER})),
    scored AS (
        SELECT t.id, {_sql_dot('t.v', 'e.q')} / (t.nrm * e.qn) AS score
        FROM t JOIN e ON t.bucket = e.bucket
    )
    SELECT id, count(*) AS n_eval_hits, max(score) AS max_score
    FROM scored WHERE score >= {_EC_THRESHOLD}
    GROUP BY id
"""


@query("q58_embedding_decontam", _Q58_ORACLE)
def q58_embedding_decontam(spark, sf_dir):
    """Embedding-space benchmark decontamination: training vectors whose
    cosine to any held-out eval vector (every 50th) reaches the
    threshold, LSH-bucket-blocked then exactly verified — the paraphrase
    catcher n-gram decontam misses."""
    from .operators.decontam import embedding_contamination

    emb = _t(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 50 == 0)
    tr = emb.filter(F.col("vec_id") % 50 != 0)
    return embedding_contamination(tr, ev, _EC_THRESHOLD)


_INCR_SPLIT = 300  # docs with doc_id >= split arrive as the "new batch"

_Q67_ORACLE = f"""
    SELECT * FROM ({_Q24_PAIRS_ORACLE})
    WHERE id_a >= {_INCR_SPLIT} OR id_b >= {_INCR_SPLIT}
"""


@query("q67_incremental_neardup", _Q67_ORACLE)
def q67_incremental_neardup(spark, sf_dir):
    """Continuous-ingestion near-dup: docs >= 300 arrive as a batch and
    pair against the existing corpus's persisted signature store plus
    themselves — never re-pairing the store. The oracle is the FULL
    recompute restricted to batch-touching pairs: their equality is the
    incremental-maintenance guarantee."""
    docs = _t(spark, sf_dir, "documents")
    store = docs.filter(F.col("doc_id") < _INCR_SPLIT)
    batch = docs.filter(F.col("doc_id") >= _INCR_SPLIT)
    store_sets, store_sigs = dedup.corpus_signatures(store)
    return dedup.incremental_dedup_pairs(batch, store_sets, store_sigs)


_Q70_ORACLE = f"""
    WITH {_EMB_CTES},
    cq AS ({simsearch.sql_quantize_cte('cn')}),
    p AS (SELECT vec_id AS probe_id, q AS pq, scale AS ps, nrm AS pn
          FROM cq WHERE {_PROBE_FILTER}),
    scored AS (
        SELECT p.probe_id, cq.vec_id,
               CAST({simsearch.sql_dot_int('cq.q', 'p.pq')} AS DOUBLE)
                   * cq.scale * p.ps / (cq.nrm * p.pn) AS score
        FROM cq, p WHERE cq.vec_id <> p.probe_id
    )
    SELECT probe_id, vec_id, score, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY score DESC, vec_id
        ) AS rank FROM scored
    ) WHERE rank <= 5
"""


@query("q70_knn_quantized", _Q70_ORACLE)
def q70_knn_quantized(spark, sf_dir):
    """ANN over int8 scalar-quantized codes: the scored relation is 4x
    smaller than float32 and the integer dot products carry no
    float-order caveat — the memory/bandwidth profile a 100 TB sweep
    ships, with exact re-rank of survivors as the optional tail step."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    return simsearch.knn_quantized(emb, probes, k=5)


_EXACT_QUOTAS = {"en": 100, "de": 40, "zh": 10}

_Q72_ORACLE = f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {sampling.sql_sample_bucket('doc_id')}, doc_id
               ) AS rk
        FROM documents
    )
    WHERE rk <= CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 40
                          WHEN 'zh' THEN 10 ELSE 0 END
"""


@query("q72_exact_stratified_sample", _Q72_ORACLE)
def q72_exact_stratified_sample(spark, sf_dir):
    """Exact-count corpus sampling: precisely 100 en / 40 de / 10 zh
    docs (others dropped), chosen by hash-bucket rank so the draw is
    reproducible and nested under quota increases."""
    from .operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.exact_stratified_sample(
        docs, _EXACT_QUOTAS, strata_col="lang"
    ).select("doc_id", "lang")


_Q73_ORACLE = f"""
    WITH RECURSIVE pass1 AS (
        SELECT doc_id, text, {TH.sql_quality_score('text')} AS quality
        FROM documents
        WHERE {TH.sql_quality_score('text')} >= 0.5
          AND {TH.sql_lang_id('text')} = 'en'
    ),
    keep AS (SELECT md5(text) AS ch, min(doc_id) AS doc_id FROM pass1 GROUP BY 1),
    kept AS (
        SELECT p.* FROM pass1 p
        JOIN keep k ON p.doc_id = k.doc_id AND md5(p.text) = k.ch
    ),
    {_sig_ctes('kept').lstrip()},
    {_PAIRS_CORE.strip()},
    {_CLUSTER_CTES.strip()},
    surv AS (
        SELECT doc_id, text FROM kept
        WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id != cluster_id)
    ),
    bench_t AS (
        SELECT {TH.sql_tokens('text')} AS toks FROM documents
        WHERE doc_id % 97 = 0
    ),
    bg AS (
        SELECT DISTINCT unnest({TH.sql_word_ngrams('toks', 3)}) AS g
        FROM bench_t
    ),
    st AS (SELECT doc_id, {TH.sql_tokens('text')} AS toks FROM surv),
    sg AS (SELECT doc_id, unnest({TH.sql_word_ngrams('toks', 3)}) AS g FROM st),
    dirty AS (SELECT DISTINCT sg.doc_id FROM sg JOIN bg USING (g)),
    clean AS (
        SELECT doc_id, toks FROM st
        WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
          AND {sampling.sql_sample_bucket('doc_id')} < 5000
          AND len(toks) > 0
    ),
    starts AS (
        SELECT doc_id, toks,
               unnest(generate_series(
                   1, greatest(len(toks) - {_CHUNK_OVERLAP}, 1), {_CHUNK_STRIDE}
               )) AS start
        FROM clean
    )
    SELECT doc_id,
           CAST((start - 1) // {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
           least(len(toks) - start + 1, {_CHUNK_SIZE}) AS n_tokens
    FROM starts
"""


@query("q73_corpus_build", _Q73_ORACLE)
def q73_corpus_build(spark, sf_dir):
    """The COMPLETE corpus-build pipeline in one Catalyst DAG: quality ->
    language -> exact dedup -> MinHash cluster dedup -> benchmark
    decontamination -> deterministic 50% sample -> 64/16 token chunking.
    Seven composed operators, one declarative plan — the end-to-end
    path a pretraining data job runs, hash-pinned stage-for-stage
    against the SQL restatement."""
    from .operators import decontam

    docs = _t(spark, sf_dir, "documents")
    pass1 = text_analysis.quality_lang_gate(docs).select(
        "doc_id", "text", "quality"
    )
    # kept feeds BOTH the signature branch and the survivor join: lazy
    # localCheckpoint runs the quality/lang/dedup prefix once (inside
    # the first consuming action), with the block lifetime owned by the
    # returned DataFrame (ContextCleaner reclaims on release — no
    # unowned session-scoped cache)
    kept = dedup.exact_dedup(pass1).localCheckpoint(eager=False)
    pairs = dedup.minhash_dedup_pairs(kept, threshold=0.5)
    surv = dedup.cluster_survivors(kept, pairs).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    clean = decontam.decontaminate(surv, bench, n=3)
    sampled = sampling.hash_sample(clean, "doc_id", 0.5)
    return text_analysis.chunk_tokens(
        sampled, chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
    ).select("doc_id", "chunk_id", "n_tokens")


_Q78_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct({TH.sql_tokens('text')})) AS term
        FROM documents
    )
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM toks
    GROUP BY term
    ORDER BY df DESC, term ASC
    LIMIT 50
"""


@query("q78_inverted_index", _Q78_ORACLE)
def q78_inverted_index(spark, sf_dir):
    """Inverted-index build: term -> sorted posting list of doc ids (the
    retrieval structure a search/RAG corpus ships with), top-50 terms by
    document frequency under a total order. Per-doc ``array_distinct``
    BEFORE the explode keeps the shuffle at |doc, term| pairs, and the
    posting list is assembled by the same single aggregation that counts
    df — one shuffle total. Postings serialize to a CSV string so the
    harness canonicalizer hashes them stably (q33 pattern)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(TH.tokens(F.col("text")))).alias("term"),
        )
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


def _bpe_merge_stages(num_merges: int, min_pair_count: int) -> list[str]:
    """Unrolled DuckDB CTE stages replaying BPE merge training (one stage
    per merge; shared by the q81 training oracle and the q106 encoding
    oracle). The greedy left-to-right merge fold is expressed as a plain
    string ``replace``: each symbol is wrapped as ``\\x01sym\\x01`` and
    symbols concatenated, so the pair (l, r) is the substring
    ``\\x01l\\x01\\x01r\\x01``. Because every symbol carries its OWN
    flanking sentinels, adjacent matches never share characters — greedy
    non-overlapping replace therefore consumes pairs strictly left to
    right, exactly like the ``aggregate()`` fold in operators/bpe.py
    (["a","a","a","a"] + merge (a,a) -> ["aa","aa"] on both sides), and a
    symbol whose text happens to end with ``l`` can never false-match.
    The word identity ``w`` rides along every stage so the final stage
    doubles as the word -> segmentation lookup an encoder joins against.
    CTEs are MATERIALIZED: each stage is referenced by both the next
    pair-count and the next rewrite, so inlining would blow up
    exponentially in num_merges."""
    stages = [
        f"""
    w0 AS MATERIALIZED (
        SELECT w,
               rtrim(chr(1) || regexp_replace(w, '(.)',
                   '\\1' || chr(1) || chr(1), 'g'), chr(1)) || chr(1) AS s,
               CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest({TH.sql_tokens('text')}) AS w FROM documents)
        GROUP BY w
    )"""
    ]
    prev = "w0"
    for k in range(1, num_merges + 1):
        p, m, w = f"p{k}", f"m{k}", f"w{k}"
        stages.append(
            f"""
    {p} AS MATERIALIZED (
        SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS n
        FROM (
            SELECT unnest(list_transform(
                       generate_series(1, len(syms) - 1),
                       i -> {{'l': trim(syms[i], chr(1)),
                             'r': trim(syms[i + 1], chr(1))}})) AS p,
                   cnt
            FROM (SELECT string_split(s, chr(1) || chr(1)) AS syms, cnt
                  FROM {prev})
            WHERE len(syms) >= 2
        )
        GROUP BY p.l, p.r
    ),
    {m} AS MATERIALIZED (
        SELECT l, r, n,
               chr(1) || l || chr(1) || chr(1) || r || chr(1) AS pat,
               chr(1) || l || r || chr(1) AS rep
        FROM {p} WHERE n >= {min_pair_count}
        ORDER BY n DESC, l ASC, r ASC LIMIT 1
    ),
    {w} AS MATERIALIZED (
        SELECT w,
               CASE WHEN (SELECT pat FROM {m}) IS NULL THEN s
                    ELSE replace(s, (SELECT pat FROM {m}),
                                 (SELECT rep FROM {m}))
               END AS s, cnt
        FROM {prev}
    )"""
        )
        prev = w
    return stages


def _bpe_oracle_sql(num_merges: int, min_pair_count: int) -> str:
    """q81 training oracle: the learned merge table in training order."""
    stages = _bpe_merge_stages(num_merges, min_pair_count)
    union = "\n        UNION ALL ".join(
        f'SELECT {k} AS merge_rank, l AS "left", r AS "right",'
        f" n AS pair_count FROM m{k}"
        for k in range(1, num_merges + 1)
    )
    return (
        "WITH "
        + ",".join(stages)
        + f"\n    SELECT * FROM ({union}) ORDER BY merge_rank"
    )


def _bpe_encode_oracle_sql(num_merges: int, min_pair_count: int) -> str:
    """q106 encoding oracle: per-document subword stats after replaying
    the SAME training on the SAME corpus, joining each document's words
    against the final stage's word -> segmentation lookup."""
    stages = _bpe_merge_stages(num_merges, min_pair_count)
    return (
        "WITH "
        + ",".join(stages)
        + f""",
    seg AS MATERIALIZED (
        SELECT w, list_transform(string_split(s, chr(1) || chr(1)),
                                 x -> trim(x, chr(1))) AS syms
        FROM w{num_merges}
    ),
    doc_syms AS (
        SELECT d.doc_id, unnest(seg.syms) AS sym
        FROM (SELECT doc_id, unnest({TH.sql_tokens('text')}) AS w
              FROM documents) d
        JOIN seg USING (w)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)            AS n_subwords,
           CAST(count(DISTINCT sym) AS BIGINT) AS n_unique_subwords
    FROM doc_syms
    GROUP BY doc_id"""
    )


@query("q81_bpe_merges", _bpe_oracle_sql(num_merges=8, min_pair_count=2))
def q81_bpe_merges(spark, sf_dir):
    """BPE tokenizer training over the corpus: the full merge-learning
    loop (q55 is one iteration's pair relation). Every iteration touches
    only the vocabulary-sized word-frequency relation — one small
    shuffle + a 1-row argmax collect per merge — with localCheckpoint
    truncating lineage (driver-anchored like q57's k-means). Returns the
    learned merge table in training order."""
    from .operators.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=8, min_pair_count=2)
    return spark.createDataFrame(
        [(i + 1, l, r, n) for i, (l, r, n) in enumerate(merges)],
        "merge_rank INT, left STRING, right STRING, pair_count BIGINT",
    )


_Q82_ORACLE = f"""
    WITH RECURSIVE {_EMB_DUP_CTES.strip()},
    pairs AS (SELECT id_a, id_b FROM epairs),
    {_CLUSTER_CTES.strip()}
    SELECT vec_id FROM u
    WHERE vec_id NOT IN (SELECT id FROM clusters WHERE id != cluster_id)
"""


@query("q82_semantic_dedup", _Q82_ORACLE)
def q82_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public): prune a
    corpus by EMBEDDING similarity rather than text overlap — cosine >=
    0.95 pairs (LSH-bucket-blocked, q31), connected components over the
    pair graph, keep the min-id survivor per component. Catches
    paraphrases and re-encodings that MinHash can't see; the planted
    perturbed copies must all be pruned.

    r18 fold of the staged q156 (window-deadlock escape): the SAME
    survivor set is also computed with the pair stage routed THROUGH
    the managed IVF-PQ index — the planted corpus builds an index in a
    scratch warehouse, the WHOLE corpus becomes distributed probes
    (``collect_probes=False``: nothing corpus-sized reaches the
    driver), exhaustive nprobe + exact rerank recovers every
    exact-threshold pair, connected components pick survivors.
    ``assert_df_identical`` refuses on any divergence, so one driver
    row certifies the index serves the corpus-scale pipeline, not just
    point queries. (Equality also certifies the fixture's planted
    duplicates never straddle an LSH bucket — a miss would make the
    index route keep MORE pairs and fail loudly.)"""
    from .operators.ann_index import build_ann_index, semantic_dedup_via_index
    from .queries_relational import _scratch_root, assert_df_identical
    from .sources.warehouse import ParquetWarehouse

    emb = _t(spark, sf_dir, "embeddings")
    corpus = _planted_embedding_corpus(emb)
    pairs = simsearch.embedding_dup_pairs(corpus, threshold=0.95)
    via_lsh = dedup.cluster_survivors(
        corpus.select("vec_id"), pairs, id_col="vec_id"
    )
    wh = ParquetWarehouse(_scratch_root("q82", sf_dir))
    build_ann_index(wh, corpus, "semidx", n_lists=8, m=8, k=32)
    via_index = semantic_dedup_via_index(
        wh, spark, "semidx", corpus, threshold=0.95, k=20
    )
    assert_df_identical(
        via_lsh, via_index, "q82: LSH-blocked route vs IVF-PQ index route"
    )
    return via_lsh


# ---------------------------------------------------------------------------
# BM25 retrieval scoring, per-group score calibration, mixture weights
# ---------------------------------------------------------------------------

_BM25_TERMS = ["hash", "join", "spark"]


def _q83_oracle() -> str:
    from .operators.text_analysis import BM25_B, BM25_K1

    k1p1, one_b, b, k1 = repr(BM25_K1 + 1.0), repr(1.0 - BM25_B), repr(BM25_B), repr(BM25_K1)
    tfs = ",\n               ".join(
        f"len(list_filter(toks, t -> t = '{w}')) AS tf{i}"
        for i, w in enumerate(_BM25_TERMS)
    )
    dfs = ",\n               ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    idf = lambda i: (
        f"CAST(floor(ln((CAST(n AS DOUBLE) - df{i} + 0.5) / (df{i} + 0.5)"
        f" + 1.0) * 1000000 + 0.5) AS BIGINT)"
    )
    contrib = lambda i: (
        f"CAST(floor({idf(i)} * CAST(tf{i} AS DOUBLE) * {k1p1}"
        f" / (tf{i} + {k1} * ({one_b} + {b} * dl / avgdl)) + 0.5) AS BIGINT)"
    )
    total = " + ".join(contrib(i) for i in range(len(_BM25_TERMS)))
    matched = " OR ".join(f"tf{i} > 0" for i in range(len(_BM25_TERMS)))
    return f"""
    WITH t AS (
        SELECT doc_id, {TH.sql_tokens('text')} AS toks FROM documents
    ),
    proj AS (
        SELECT doc_id, len(toks) AS dl,
               {tfs}
        FROM t
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dl) AS BIGINT) AS sumdl,
               {dfs}
        FROM proj
    ),
    s AS (
        SELECT proj.*, stats.*, CAST(sumdl AS DOUBLE) / n AS avgdl
        FROM proj, stats
    )
    SELECT doc_id, dl,
           floor(({total}) / 100.0 + 0.5) / 10000.0 AS bm25
    FROM s WHERE {matched}
"""


@query("q83_bm25_rank", _q83_oracle())
def q83_bm25_rank(spark, sf_dir):
    """BM25 relevance of every document against a fixed query-term set —
    the Lucene/Elasticsearch ranking function as two narrow projections
    plus one 1-row broadcast stats aggregate (operators.text_analysis.
    bm25_scores); nothing explodes and no shuffle is wider than a row."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.bm25_scores(docs, _BM25_TERMS)


_Q84_ORACLE = f"""
    WITH q AS (
        SELECT doc_id, lang, {TH.sql_quality_score('text')} AS quality
        FROM documents
    )
    SELECT doc_id, lang, quality,
           percent_rank() OVER (PARTITION BY lang ORDER BY quality) AS pct
    FROM q
"""


@query("q84_quality_percentile", _Q84_ORACLE)
def q84_quality_percentile(spark, sf_dir):
    """Per-language percent_rank of the quality score — the calibration
    step behind language-specific quality thresholds. The engine side
    avoids the naive one-task-per-language row window: counts per
    (lang, quality) compress the distribution first, the cumulative rank
    runs over that small relation, and rows get their percentile back by
    an AQE-broadcast equi-join (quality.percentile_rank)."""
    from .partitioning import spread
    from .quality import percentile_rank

    docs = _t(spark, sf_dir, "documents")
    # materialize the token array once — quality_score references it in
    # four sub-expressions, and inlining the tokenizer would re-tokenize
    # per reference inside interpreted higher-order lambdas.
    # spread: a small corpus arrives as ONE scan split and the scoring
    # projection would run single-task (§2.5 input skew); no-op at
    # scale. The LAZY localCheckpoint runs it ONCE: percentile_rank
    # references scored twice (the (lang, quality) counts AND the
    # join-back side), and each reference re-executed the whole
    # tokenize+score subtree — the before-plan shows two corpus scans
    # (r20, §2.4; the checkpointed relation is three narrow columns).
    # Identity transform: values unchanged.
    scored = (
        spread(docs.select("doc_id", "lang", "text"))
        .withColumn("_toks", TH.tokens(F.col("text")))
        .withColumn("quality", TH.quality_score(F.col("_toks")))
        .select("doc_id", "lang", "quality")
        .localCheckpoint(eager=False)
    )
    return percentile_rank(scored, "lang", "quality")

_Q85_ORACLE = f"""
    WITH s AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum({TH.sql_token_count('text')}) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT *,
               CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)
                               / (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM s))
                          * 1000000 + 0.5) AS BIGINT) AS w6
        FROM s
    )
    SELECT source, n_docs, n_tokens,
           floor(CAST(n_tokens AS DOUBLE)
                 / (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM s)
                 * 1000000 + 0.5) / 1000000.0 AS token_share,
           floor(CAST(w6 AS DOUBLE)
                 / (SELECT CAST(sum(w6) AS DOUBLE) FROM w)
                 * 1000000 + 0.5) / 1000000.0 AS mix_weight
    FROM w
"""


@query("q85_mixture_weights", _Q85_ORACLE)
def q85_mixture_weights(spark, sf_dir):
    """Temperature-scaled (alpha = 0.5) sampling weights per source — the
    mixture-design step that upweights small domains (the multilingual /
    domain-balancing recipe). One partial-agg'd groupBy to source stats,
    then two window totals over the sources-sized relation; sqrt weights
    are fixed-pointed to int64 before normalizing so both engines divide
    identical integers."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TH.token_count(F.col("text"))).alias("n_tokens"),
    )
    tot = F.sum("n_tokens").over(W.partitionBy())
    share = F.col("n_tokens").cast("double") / tot.cast("double")
    w6 = F.floor(F.sqrt(share) * F.lit(1_000_000) + F.lit(0.5)).cast("long")
    stats = stats.withColumn("_w6", w6)
    tot_w6 = F.sum("_w6").over(W.partitionBy())
    return stats.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.floor(share * F.lit(1_000_000) + F.lit(0.5)) / F.lit(1e6)).alias(
            "token_share"
        ),
        (
            F.floor(
                F.col("_w6").cast("double") / tot_w6.cast("double")
                * F.lit(1_000_000)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("mix_weight"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/holdout split
# ---------------------------------------------------------------------------

_SPLIT_PCT = 90  # train share of the 0-99 hash buckets

_Q86_ORACLE = f"""
    WITH RECURSIVE {_SIG_CTES.strip()},
    {_PAIRS_CORE.strip()},
    {_CLUSTER_CTES.strip()}
    SELECT d.doc_id,
           CASE WHEN {TH.sql_poly_hash(
               "CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)")}
                     % 100 < {_SPLIT_PCT}
                THEN 'train' ELSE 'holdout' END AS split
    FROM documents d
    LEFT JOIN clusters c ON c.id = d.doc_id
"""


@query("q86_leakage_safe_split", _Q86_ORACLE)
def q86_leakage_safe_split(spark, sf_dir):
    """Deterministic train/holdout split that cannot leak near-dups
    across the boundary: the split key is the document's near-dup
    CLUSTER id (min doc_id of its MinHash component), so every member of
    a component lands in the same split — hashing raw doc_ids would put
    a train document's near-copy into the holdout set and contaminate
    evaluation. Unclustered docs hash their own id. The pair list is the
    small relation; assignment is one hash expression after a left join
    of docs against the (pairs-sized) cluster labels — AQE broadcasts
    it."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.5)
    clusters = dedup.dedup_clusters(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    key = F.coalesce(F.col("cluster_id"), F.col("doc_id")).cast("string")
    return (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.when(TH.poly_hash(key) % 100 < _SPLIT_PCT, F.lit("train"))
            .otherwise(F.lit("holdout"))
            .alias("split"),
        )
    )


_Q88_ORACLE = f"""
    WITH toks AS (SELECT doc_id, {TH.sql_tokens('text')} AS t FROM documents),
    stream AS (SELECT doc_id, unnest(t) AS w1 FROM toks),
    uni AS (SELECT w1, count(*) AS c1 FROM stream GROUP BY w1),
    big AS (
        SELECT doc_id, b.w1 AS w1, b.w2 AS w2
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(t) - 1),
                       i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS b
            FROM toks WHERE len(t) >= 2
        )
    ),
    model AS (
        SELECT w1, w2,
               CAST(floor(log10(CAST(c2 + 1 AS DOUBLE)
                                / (c1 + (SELECT count(*) FROM uni)))
                          * {text_analysis.LP_SCALE} + 0.5) AS BIGINT) AS lp
        FROM (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2)
        JOIN uni USING (w1)
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           floor(CAST(sum(lp) AS DOUBLE) / count(*)
                 / {text_analysis.LP_SCALE} * 1e4 + 0.5) / 1e4 AS logprob
    FROM big JOIN model USING (w1, w2)
    GROUP BY doc_id
"""


# r19 fold: q88_bigram_logprob retired into q48_unigram_logprob
# (registry.MERGED) — the absorber left-joins this relation per doc.


def q88_bench_bigram(spark, sf_dir):
    """Fluency scoring one step past q48's unigram perplexity proxy:
    per-document mean log10-probability under the corpus's own add-one
    bigram model. Word-salad documents built from common words pass a
    unigram filter but fail this one — the standard second-stage quality
    signal. Per-bigram scores are fixed-point int64 before the
    order-nondeterministic sum (q48 pattern)."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.bigram_logprob(docs)


_Q95_ORACLE = f"""
    WITH s AS (
        SELECT source, unnest({TH.sql_tokens('text')}) AS tok FROM documents
    ),
    c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
          FROM s GROUP BY source, tok),
    n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS vocab
          FROM c GROUP BY source),
    t AS (
        SELECT c.source, c.c, n.n, n.vocab,
               CAST(floor(log10(CAST(c.c AS DOUBLE) / n.n)
                          * {text_analysis.LP_SCALE} + 0.5) AS BIGINT) AS lp
        FROM c JOIN n USING (source)
    )
    SELECT source, max(n) AS n_tokens, max(vocab) AS vocab,
           floor(-CAST(sum(CAST(c AS HUGEINT) * lp) AS DOUBLE)
                 / max(n) / {text_analysis.LP_SCALE} * 1e4 + 0.5) / 1e4
               AS entropy
    FROM t GROUP BY source
"""


@query("q95_source_token_entropy", _Q95_ORACLE)
def q95_source_token_entropy(spark, sf_dir):
    """Shannon entropy (log10) of each source's token distribution — the
    corpus-diversity diagnostic for mixture design: a low-entropy source
    is repetitive/templated and should be down-weighted (q85) or
    boilerplate-stripped (q47) before training. Per-token -p*log p terms
    are fixed-pointed (LP_SCALE) and weighted by EXACT integer counts in
    decimal arithmetic, so the order-nondeterministic sum is exact and
    engine-identical. Shape: one shuffle to (source, token) counts —
    vocabulary-sized — then a per-source fold over that small relation;
    the fact-sized stream is touched once."""
    docs = _t(spark, sf_dir, "documents")
    stream = docs.select(
        "source", F.explode(TH.tokens(F.col("text"))).alias("tok")
    )
    c = stream.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("_c"))
    from pyspark.sql import Window as W

    withn = c.withColumn(
        "_n", F.sum("_c").over(W.partitionBy("source"))
    ).withColumn("_vocab", F.count(F.lit(1)).over(W.partitionBy("source")))
    lp = F.floor(
        F.log10(F.col("_c").cast("double") / F.col("_n"))
        * text_analysis.LP_SCALE
        + F.lit(0.5)
    ).cast("long")
    return (
        withn.select(
            "source",
            "_n",
            "_vocab",
            (F.col("_c").cast("decimal(38,0)") * lp.cast("decimal(38,0)"))
            .alias("_term"),
        )
        .groupBy("source")
        .agg(
            F.max("_n").alias("n_tokens"),
            F.max("_vocab").alias("vocab"),
            (
                F.floor(
                    -F.sum("_term").cast("double")
                    / F.max("_n")
                    / text_analysis.LP_SCALE
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("entropy"),
        )
    )


_Q98_ORACLE = f"""
    WITH {_SIG_CTES.strip()},
    {_PAIRS_CORE.strip()}
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    GROUP BY 1, 2
"""


@query("q98_cross_source_dup_matrix", _Q98_ORACLE)
def q98_cross_source_dup_matrix(spark, sf_dir):
    """Which sources duplicate which: the MinHash near-dup pair list
    (q24) aggregated into an unordered source-pair matrix — the
    curation diagnostic that decides which feed to drop when two crawls
    overlap (a heavy diagonal means internal duplication; a heavy
    off-diagonal cell means one source mirrors another). The pair list
    is the small relation; attaching each side's source is two joins
    against the (doc_id, source) projection — AQE broadcasts the pair
    side — and the matrix aggregation is source-cardinality-sized."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.5)
    src = docs.select("doc_id", "source")
    withsrc = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")
            ),
            "id_b",
        )
    )
    return (
        withsrc.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Heavy hitters (Misra-Gries candidates + exact recount) and token-budget
# shard assignment (scalable ordered cumsum) — round-7 scale patterns
# ---------------------------------------------------------------------------

_Q100_ORACLE = f"""
    WITH toks AS (
        SELECT unnest({TH.sql_tokens('text')}) AS item FROM documents
    )
    SELECT item, CAST(count(*) AS BIGINT) AS n
    FROM toks GROUP BY item
    ORDER BY n DESC, item ASC
    LIMIT 20
"""


@query("q100_heavy_hitters", _Q100_ORACLE)
def q100_heavy_hitters(spark, sf_dir):
    """Exact top-20 corpus tokens WITHOUT shuffling the long tail: each
    partition runs a Misra-Gries summary (candidate pass, no shuffle),
    only candidates cross the wire for the exact recount, and a runtime
    certificate (k-th count > N/(capacity+1)) proves no tail item could
    displace the answer — the vocabulary/stopword diagnostic that stays
    cheap when the distinct-token count explodes at 100 TB. Oracle is
    the plain exact top-k: the pruned path must match it hash-for-hash.

    Parallelism note (r20): at sf0.1 the corpus arrives as ONE scan
    split, so the Misra-Gries candidate pass runs single-task — the
    flat 8-vs-32-core scaling the r19 verdict flagged. A spread()
    before the explode was built and interleave-A/B'd (§2.5) and made
    the face SLOWER (med 2.2 -> 5.6 s): fanning the mapInPandas to 32
    partitions costs 32 Python-worker spin-ups plus a shuffle of the
    text per pass, which at a 5000-doc corpus far exceeds the
    single-task tokenize it parallelizes. At real scale the scan has
    >= cores splits and MG parallelizes naturally — deliberately left
    on the natural scan partitioning."""
    from .operators import freq

    docs = _t(spark, sf_dir, "documents")
    items = docs.select(F.explode(TH.tokens(F.col("text"))).alias("item"))
    return freq.heavy_hitters(items, "item", k=20, capacity=2048)


_SHARD_BUDGET = 20_000
_SHARD_BUCKETS = 16

_Q101_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, doc_id % {_SHARD_BUCKETS} AS b,
               len({TH.sql_tokens('text')}) AS w
        FROM documents
    ),
    c AS (
        SELECT doc_id, w,
               coalesce(sum(w) OVER (
                   ORDER BY b, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS start
        FROM t
    )
    SELECT doc_id, CAST(w AS BIGINT) AS n_tokens,
           CAST(start // {_SHARD_BUDGET} AS INTEGER) AS shard_id
    FROM c
"""


@query("q101_token_budget_shards", _Q101_ORACLE)
def q101_token_budget_shards(spark, sf_dir):
    """Training-shard manifest: documents packed, in a deterministic
    global order, into shards of ~{budget} tokens each — without the
    single-task global sort a naive running total needs. The global
    cumulative sum decomposes two-level (per-bucket totals -> bounded
    offset window over n_buckets rows -> parallel within-bucket running
    sums); the oracle restates it as ONE global window, and the int64
    arithmetic makes the match exact. The pattern behind every "each
    output file holds =B tokens" exporter."""
    from .operators.sampling import token_budget_shards

    docs = _t(spark, sf_dir, "documents")
    weighted = docs.select(
        "doc_id", F.size(TH.tokens(F.col("text"))).cast("long").alias("w")
    )
    out = token_budget_shards(
        weighted, "doc_id", "w", _SHARD_BUDGET, n_buckets=_SHARD_BUCKETS
    )
    return out.select(
        "doc_id", F.col("w").alias("n_tokens"), "shard_id"
    )


_Q103_ORACLE = f"""
    SELECT t AS item, CAST(count(*) AS BIGINT) AS exact_n,
           TRUE AS within_bounds
    FROM (SELECT unnest({TH.sql_tokens('text')}) AS t FROM documents)
    GROUP BY t
    ORDER BY exact_n DESC, item
    LIMIT 50
"""

# Markov margin for the CMS over-estimate bound: per hash row
# P(overcount > c*N/width) <= 1/c, so with depth independent rows the
# per-item flip probability is (1/c)^depth — c=16, depth=4 puts one
# contract row's failure odds at ~1.5e-5 even on freshly regenerated
# data (the q87/q92 tolerance lesson applied to frequencies).
_CMS_MARGIN = 16.0


@query("q103_cms_accuracy", _Q103_ORACLE)
def q103_cms_accuracy(spark, sf_dir):
    """Driver-verified accuracy contract for the count-min sketch (the
    mergeable-frequency companion to q87/q92's HLL and q99's histogram
    contracts). Tokens stream into a (d, slot, n) CMS state — one scan,
    one sketch-sized shuffle, JVM xxhash64 hashing, zero UDFs — then the
    exact top-50 tokens probe it: every estimate must respect the CMS
    guarantee est >= exact AND est <= exact + margin*N/width, or
    within_bounds flips FALSE and the driver's value-hash catches it.
    The oracle pins the exact counts and TRUE per row."""
    from .operators import freq

    docs = _t(spark, sf_dir, "documents")
    items = docs.select(F.explode(TH.tokens(F.col("text"))).alias("item"))
    state = freq.cms_sketch(items, "item").persist()
    try:
        n_total = state.filter(F.col("d") == 0).agg(
            F.sum("n")
        ).collect()[0][0] or 0
        top = (
            items.groupBy("item")
            .agg(F.count(F.lit(1)).alias("exact_n"))
            .orderBy(F.desc("exact_n"), F.asc("item"))
            .limit(50)
        )
        est = freq.cms_lookup(state, top.select("item"), "item")
        slack = _CMS_MARGIN * n_total / freq.CMS_WIDTH
        out = top.join(est, "item").select(
            "item",
            "exact_n",
            (
                (F.col("est_n") >= F.col("exact_n"))
                & (F.col("est_n") <= F.col("exact_n") + F.lit(slack))
            ).alias("within_bounds"),
        )
        out = spark.createDataFrame(
            out.collect(), "item string, exact_n long, within_bounds boolean"
        )
    finally:
        state.unpersist()
    return out


_CAP_K = 25

_Q104_ORACLE = f"""
    SELECT doc_id, source, quality FROM (
        SELECT doc_id, source,
               {TH.sql_quality_score('text')} AS quality,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {TH.sql_quality_score('text')} DESC, doc_id
               ) AS rk
        FROM documents
    )
    WHERE rk <= {_CAP_K}
"""


@query("q104_domain_cap", _Q104_ORACLE)
def q104_domain_cap(spark, sf_dir):
    """Domain capping (C4/RefinedWeb style): keep at most K documents
    per source, best quality first, deterministic tie-break on doc_id.
    Semantics are one rank window, but the shuffle input is pre-pruned
    shuffle-free — each partition locally keeps only its own top-K per
    source (an Arrow-batched pass), so a hot domain with millions of
    pages ships k * n_partitions rows instead of all of them. The
    oracle restates the plain window; the pruned path must match it
    hash-for-hash."""
    docs = _t(spark, sf_dir, "documents")
    scored = text_analysis.text_features(docs).select(
        "doc_id", "source", "quality"
    )
    return sampling.cap_per_group(
        scored,
        "source",
        [("quality", "desc"), ("doc_id", "asc")],
        _CAP_K,
    )


_SHUFFLE_SEED = "epoch0"

_Q105_ORACLE = f"""
    SELECT doc_id,
           CAST(row_number() OVER (
               ORDER BY {ordering.sql_shuffle_rank('doc_id', _SHUFFLE_SEED)}
           ) - 1 AS BIGINT) AS shuffle_idx
    FROM documents
"""


@query("q105_global_shuffle_index", _Q105_ORACLE)
def q105_global_shuffle_index(spark, sf_dir):
    """Epoch-deterministic corpus shuffle: every document numbered
    0..N-1 in poly_hash(seed||doc_id) order — the global example index
    a training loader resumes from. The naive spelling (row_number with
    no PARTITION BY) is a one-task global sort; this path range-
    partitions the hash order, prefix-sums n partition counts on the
    driver, and assigns offset+position per partition in an Arrow
    batch pass — no global window, no data-scale collect (operator:
    operators/ordering.py). The oracle restates it as the single
    global window; ranks must match bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    out = ordering.shuffle_index(
        docs.select("doc_id"), "doc_id", seed=_SHUFFLE_SEED
    )
    return out.select("doc_id", "shuffle_idx")


@query("q106_bpe_encode", _bpe_encode_oracle_sql(num_merges=8, min_pair_count=2))
def q106_bpe_encode(spark, sf_dir):
    """Tokenize the corpus with the tokenizer just learned from it —
    the full BPE train -> apply loop (q81 stops at the merge table).
    Training touches only the vocabulary-sized word relation (one small
    shuffle + 1-row argmax per merge); application is bpe_segment's
    per-distinct-word merge replay (vocab-sized, in-row folds) joined
    back to the exploded corpus on the word key — the segmentation
    table is the SMALL side of a plain equi-join, never a per-document
    Python loop. Output is each document's subword count and distinct
    subword count; the oracle replays training AND application in
    unrolled SQL, so the match is exact, not statistical."""
    from .operators.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    # training already applied every merge to the word relation — take
    # the (w, syms) segmentation for free instead of re-scanning the
    # corpus and replaying the merges
    _merges, seg = bpe_train(
        docs, num_merges=8, min_pair_count=2, return_segmentation=True
    )
    # collapse token OCCURRENCES to per-doc word counts before the join:
    # the explode below then runs over distinct (doc, word) pairs
    # weighted by nw, not over every token occurrence
    words = (
        docs.select("doc_id", F.explode(TH.tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("nw"))
    )
    return (
        words.join(seg, "w")
        .select("doc_id", "nw", F.explode("syms").alias("sym"))
        .groupBy("doc_id")
        .agg(
            F.sum("nw").alias("n_subwords"),
            F.countDistinct("sym").alias("n_unique_subwords"),
        )
    )


_Q107_ORACLE = """
    WITH e AS (
        SELECT unnest(generate_series(1, len(embedding))) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
                    AS BIGINT) AS vq
        FROM embeddings
    ),
    s AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(vq) AS BIGINT) AS sy,
               CAST(sum(CAST(vq AS HUGEINT) * vq) AS HUGEINT) AS syy,
               CAST(min(vq) AS BIGINT) AS min_micro,
               CAST(max(vq) AS BIGINT) AS max_micro
        FROM e GROUP BY dim
    )
    SELECT CAST(dim AS INTEGER) AS dim, n,
           CAST(floor(sy / n + 0.5) AS BIGINT) AS mean_micro,
           CAST(floor(CAST(CAST(n AS HUGEINT) * syy
                           - CAST(sy AS HUGEINT) * sy AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) + 0.5)
                AS BIGINT) AS var_micro2,
           min_micro, max_micro
    FROM s
"""


@query("q107_embedding_moments", _Q107_ORACLE)
def q107_embedding_moments(spark, sf_dir):
    """Embedding-quality audit: per-dimension count / mean / variance /
    min / max — the drift-and-degenerate-dimension check run before any
    ANN or clustering job trusts a new embedding batch. Values are
    quantized to micro units so every output column is an exact int64
    (mean and variance use the q94/q96 exact-integer-sums + shared
    double-division recipe — no float accumulation order in the
    contract). Plan: posexplode widens in-row, partial aggregation
    collapses to d groups map-side, so the shuffle carries only
    d * n_partitions rows no matter the corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    vq = F.floor(F.col("v").cast("double") * 1e6 + F.lit(0.5)).cast("long")
    per = emb.select(
        F.posexplode("embedding").alias("pos", "v")
    ).select((F.col("pos") + 1).alias("dim"), vq.alias("vq"))
    s = per.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vq").alias("sy"),
        F.sum(F.col("vq").cast("decimal(38,0)") * F.col("vq")).alias("syy"),
        F.min("vq").alias("min_micro"),
        F.max("vq").alias("max_micro"),
    )
    n, sy, syy = F.col("n"), F.col("sy"), F.col("syy")
    var_num = (
        n.cast("decimal(38,0)") * syy - sy.cast("decimal(38,0)") * sy
    ).cast("double")
    return s.select(
        F.col("dim").cast("int").alias("dim"),
        "n",
        F.floor(sy / n + F.lit(0.5)).cast("long").alias("mean_micro"),
        F.floor(var_num / (n.cast("double") * n.cast("double")) + F.lit(0.5))
        .cast("long")
        .alias("var_micro2"),
        "min_micro",
        "max_micro",
    )


def _q115_oracle() -> str:
    # reuses the q83 BM25 restatement whole as a subquery (DuckDB allows
    # WITH inside a parenthesized derived table) and the q28 cosine CTEs
    return f"""
    WITH lex AS (
        SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
                   AS r_lex
        FROM ({_q83_oracle()})
        ORDER BY bm25 DESC, doc_id LIMIT 50
    ),
    {_EMB_CTES.strip()},
    p AS (SELECT vec_id AS probe_id, v AS q, nrm AS qn FROM cn
          WHERE vec_id = 0),
    sem AS (
        SELECT vec_id AS doc_id, rank AS r_sem FROM (
            SELECT cn.vec_id,
                   row_number() OVER (
                       ORDER BY {_sql_dot('cn.v', 'p.q')} / (cn.nrm * p.qn)
                           DESC, cn.vec_id
                   ) AS rank
            FROM cn, p WHERE cn.vec_id <> p.probe_id
        ) WHERE rank <= 50
    )
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           l.r_lex AS r_lex, s.r_sem AS r_sem,
           COALESCE(1.0 / (60 + l.r_lex), 0.0)
               + COALESCE(1.0 / (60 + s.r_sem), 0.0) AS rrf
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
"""


@query("q115_hybrid_retrieval", _q115_oracle())
def q115_hybrid_retrieval(spark, sf_dir):
    """Hybrid retrieval fusion — the pattern RAG/retrieval pipelines
    actually deploy: a LEXICAL channel (q83's BM25 against the fixed
    term set, top-50) and a SEMANTIC channel (exact cosine top-50 around
    probe vector 0, q28's eval path) fused by reciprocal-rank fusion
    rrf = sum(1 / (60 + rank)). Scale shape: each channel ends in a
    TakeOrdered top-k (never a global row window over the corpus — the
    lexical rank window runs over the 50-row top-k relation), and the
    fusion is a full outer join of two k-row relations. The RRF doubles
    are computed by one identical expression on both engines, so the
    hash comparison is exact."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    bm_top = (
        text_analysis.bm25_scores(docs, _BM25_TERMS)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(50)
    )
    lex = bm_top.withColumn(
        "r_lex", F.row_number().over(W.orderBy(F.col("bm25").desc(), "doc_id"))
    ).select("doc_id", "r_lex")
    sem = simsearch.knn_brute(
        emb, emb.filter(F.col("vec_id") == 0), k=50
    ).select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("r_sem"))
    fused = lex.join(sem, "doc_id", "full_outer")
    return fused.select(
        "doc_id",
        "r_lex",
        "r_sem",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_sem")), F.lit(0.0))
        ).alias("rrf"),
    )


_Q116_ORACLE = f"""
    WITH s AS (
        SELECT source, unnest({TH.sql_tokens('text')}) AS tok FROM documents
    ),
    c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
          FROM s GROUP BY source, tok),
    n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY source),
    g AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cg FROM c GROUP BY tok),
    tot AS (SELECT CAST(sum(cg) AS BIGINT) AS ng FROM g),
    t AS (
        SELECT c.source, c.c, n.n,
               CAST(floor((log10(CAST(c.c AS DOUBLE) / n.n)
                           - log10(CAST(g.cg AS DOUBLE) / tot.ng))
                          * {text_analysis.LP_SCALE} + 0.5) AS BIGINT) AS lr
        FROM c JOIN n USING (source) JOIN g USING (tok), tot
    )
    SELECT source, max(n) AS n_tokens,
           floor(CAST(sum(CAST(c AS HUGEINT) * lr) AS DOUBLE)
                 / max(n) / {text_analysis.LP_SCALE} * 1e4 + 0.5) / 1e4
               AS kl
    FROM t GROUP BY source
"""


@query("q116_source_kl_divergence", _Q116_ORACLE)
def q116_source_kl_divergence(spark, sf_dir):
    """Corpus-drift diagnostic one step past q95's entropy: the KL
    divergence of each source's token distribution FROM the whole-corpus
    distribution — a templated or topically-narrow source scores high
    and gets down-weighted in mixture design; a near-zero source adds no
    diversity. Per-token log-ratio terms are fixed-pointed (LP_SCALE,
    the q48/q95 pattern) and weighted by exact integer counts in decimal
    arithmetic, so the order-nondeterministic sum is engine-identical.
    Shape (r19): one shuffle to the vocabulary-sized (source, token)
    counts; the per-source totals _n and global per-token counts _cg
    ATTACH AS WINDOW SUMS over that one relation instead of re-derived
    join relations (each extra reference re-executed the corpus
    explode+aggregate subtree — the executed r18 plan scanned the
    corpus 4x where 1 suffices; runtime ReuseExchange recovered only
    part of it). Window order matters: the ``tok`` window runs first so
    the trailing ``source`` window leaves the relation hash(source)-
    partitioned and the final groupBy reuses that exchange. The global
    total stays a 1-row broadcast; its lineage shares the c exchange,
    which runtime reuse dedupes (verified in the executed plan)."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    stream = docs.select(
        "source", F.explode(TH.tokens(F.col("text"))).alias("tok")
    )
    c = stream.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("_c"))
    withn = c.withColumn(
        "_cg", F.sum("_c").over(W.partitionBy("tok"))
    ).withColumn("_n", F.sum("_c").over(W.partitionBy("source")))
    tot = c.agg(F.sum("_c").alias("_ng"))
    lr = F.floor(
        (
            F.log10(F.col("_c").cast("double") / F.col("_n"))
            - F.log10(F.col("_cg").cast("double") / F.col("_ng"))
        )
        * text_analysis.LP_SCALE
        + F.lit(0.5)
    ).cast("long")
    return (
        withn.join(F.broadcast(tot))
        .select(
            "source",
            "_n",
            (F.col("_c").cast("decimal(38,0)") * lr.cast("decimal(38,0)"))
            .alias("_term"),
        )
        .groupBy("source")
        .agg(
            F.max("_n").alias("n_tokens"),
            (
                F.floor(
                    F.sum("_term").cast("double")
                    / F.max("_n")
                    / text_analysis.LP_SCALE
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("kl"),
        )
    )


_Q118_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, len({TH.sql_tokens('text')}) AS L FROM documents
        WHERE len({TH.sql_tokens('text')}) > 0
    )
    SELECT doc_id,
           CAST((GREATEST(L - {_CHUNK_OVERLAP}, 1) - 1) // {_CHUNK_STRIDE}
                + 1 AS BIGINT) AS n_chunks,
           CAST(L AS BIGINT) AS covered_tokens,
           TRUE AS lossless
    FROM t
"""


@query("q118_chunk_integrity", _Q118_ORACLE)
def q118_chunk_integrity(spark, sf_dir):
    """Integrity contract over q46's context-window chunking — the law a
    training pipeline silently depends on: stitching the chunks back
    (dropping each chunk's leading overlap) reproduces EVERY original
    token exactly once, i.e. sum(n_tokens) - overlap * (n_chunks - 1)
    == len(tokens) for every non-empty document. The oracle restates the
    expected chunk COUNT and coverage from the document length alone, so
    an off-by-one in the stride generator, a dropped tail chunk, or a
    wrong overlap trim all flip the hash. Shape: the chunk relation
    collapses map-side to one row per document; one doc-key shuffle."""
    chunks = text_analysis.chunk_tokens(
        _t(spark, sf_dir, "documents"),
        chunk_size=_CHUNK_SIZE,
        overlap=_CHUNK_OVERLAP,
    )
    per = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("_tot"),
    )
    orig = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.size(TH.tokens(F.col("text"))).alias("_L"))
        .filter(F.col("_L") > 0)
    )
    covered = F.col("_tot") - _CHUNK_OVERLAP * (F.col("n_chunks") - 1)
    return orig.join(per, "doc_id").select(
        "doc_id",
        "n_chunks",
        covered.alias("covered_tokens"),
        (covered == F.col("_L")).alias("lossless"),
    )


_Q120_ORACLE = f"""
    SELECT shard,
           CAST(max(pack_id) + 1 AS BIGINT) AS n_packs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_tokens) AS DOUBLE)
               / ((max(pack_id) + 1) * {_PACK_BUDGET}) AS utilization
    FROM ({_Q50_PACKED_ORACLE})
    GROUP BY shard
"""


@query("q120_pack_efficiency", _Q120_ORACLE)
def q120_pack_efficiency(spark, sf_dir):
    """Packing-efficiency audit over q50's sequence packing — the number
    a data-loading team actually tracks: per shard, how many 256-token
    context windows the greedy pack produced and what fraction of their
    budget is filled (padding waste = 1 - utilization). Collapses the
    chunk relation to one row per shard (8 rows); the utilization double
    is one identical division on both engines."""
    docs = _t(spark, sf_dir, "documents")
    chunks = text_analysis.chunk_tokens(docs, chunk_size=64, overlap=0).drop(
        "chunk_text"
    )
    packed = text_analysis.pack_chunks(
        chunks, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    )
    return packed.groupBy("shard").agg(
        (F.max("pack_id") + 1).alias("n_packs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (
            F.sum("n_tokens").cast("double")
            / ((F.max("pack_id") + 1) * _PACK_BUDGET)
        ).alias("utilization"),
    )


_Q132_ORACLE = """
    WITH geo AS (
        SELECT doc_id, text,
               (doc_id % 4) + 2 AS bw,
               GREATEST(1, (GREATEST(1, len(text)) + (doc_id % 4) + 1)
                           // ((doc_id % 4) + 2)) AS bh
        FROM documents
    ),
    stats AS (
        SELECT doc_id, bw, bh,
               len(text) AS nd,
               COALESCE(list_sum(
                   [CAST(LEAST(239, GREATEST(16,
                        ascii(substring(text, i, 1)))) AS BIGINT)
                    FOR i IN generate_series(1, len(text), 1)]), 0)
                   AS data_level_sum,
               COALESCE(list_sum(
                   [CAST(CASE WHEN ascii(substring(text, i, 1)) % 3 <> 0
                              THEN 1 ELSE 0 END AS BIGINT)
                    FOR i IN generate_series(1, len(text), 1)]), 0)
                   AS n_striped,
               COALESCE(list_sum(
                   [CAST(ascii(substring(text, i, 1)) % 3 AS BIGINT)
                    FOR i IN generate_series(1, len(text), 1)]), 0)
                   AS stripe_sum
        FROM geo
    )
    SELECT doc_id,
           CAST(bw * 8 AS INTEGER) AS width,
           CAST(bh * 8 AS INTEGER) AS height,
           CAST(bw * bh AS INTEGER) AS n_blocks,
           CAST(64 * (data_level_sum + 16 * (bw * bh - nd)) AS BIGINT)
               AS pix_sum,
           CAST(n_striped AS INTEGER) AS ac_nonzero,
           CAST(8 * stripe_sum AS BIGINT) AS ac_abs_sum,
           CAST(64 * (data_level_sum + 16 * (bw * bh - nd)) AS DOUBLE)
               / (bw * bh * 64) AS mean_intensity
    FROM stats
"""


# r19 fold: q132_jpeg_decode retired into q134_jpeg_color_decode
# (registry.MERGED) — the absorber decodes BOTH the grayscale and the
# 3-component color container per document and joins the stats, so one
# driver row attests the single-component SOF parse + DC chain AND the
# interleaved-MCU color path.


_Q134_ORACLE = """
    WITH geo AS (
        SELECT doc_id, text,
               (doc_id % 4) + 2 AS bw,
               GREATEST(1, (GREATEST(1, len(text)) + (doc_id % 4) + 1)
                           // ((doc_id % 4) + 2)) AS bh
        FROM documents
    ),
    stats AS (
        SELECT doc_id, bw, bh,
               len(text) AS nd,
               COALESCE(list_sum(
                   [CAST(LEAST(239, GREATEST(16,
                        ascii(substring(text, i, 1)))) AS BIGINT)
                    FOR i IN generate_series(1, len(text), 1)]), 0)
                   AS data_level_sum,
               COALESCE(list_sum(
                   [CAST(CASE WHEN ascii(substring(text, i, 1)) % 3 <> 0
                              THEN 1 ELSE 0 END AS BIGINT)
                    FOR i IN generate_series(1, len(text), 1)]), 0)
                   AS n_striped,
               COALESCE(list_sum(
                   [CAST(ascii(substring(text, i, 1)) % 3 AS BIGINT)
                    FOR i IN generate_series(1, len(text), 1)]), 0)
                   AS stripe_sum
        FROM geo
    )
    SELECT doc_id,
           CAST(bw * 8 AS INTEGER) AS width,
           CAST(bh * 8 AS INTEGER) AS height,
           CAST(bw * bh * 3 AS INTEGER) AS n_blocks,
           CAST(64 * (data_level_sum + 16 * (bw * bh - nd))
                + 2 * 128 * 64 * bw * bh AS BIGINT) AS pix_sum,
           CAST(n_striped AS INTEGER) AS ac_nonzero,
           CAST(8 * stripe_sum AS BIGINT) AS ac_abs_sum,
           CAST(64 * (data_level_sum + 16 * (bw * bh - nd))
                + 2 * 128 * 64 * bw * bh AS DOUBLE)
               / (bw * bh * 64 * 3) AS mean_intensity
    FROM stats
"""

# r19 merged oracle: both the grayscale (q132) and color (q134) stats
# restated from ONE shared stats CTE — gray_* columns are the retired
# q132 surface, color_* the original q134 surface.
_Q134_MERGED_ORACLE = f"""
    WITH geo AS (
        SELECT doc_id, text,
               (doc_id % 4) + 2 AS bw,
               GREATEST(1, (GREATEST(1, len(text)) + (doc_id % 4) + 1)
                           // ((doc_id % 4) + 2)) AS bh
        FROM documents
    ),
    stats AS (
        SELECT doc_id, bw, bh,
               len(text) AS nd,
               COALESCE(list_sum(
                   [CAST(LEAST(239, GREATEST(16,
                        ascii(substring(text, i, 1)))) AS BIGINT)
                    FOR i IN generate_series(1, len(text), 1)]), 0)
                   AS data_level_sum,
               COALESCE(list_sum(
                   [CAST(CASE WHEN ascii(substring(text, i, 1)) % 3 <> 0
                              THEN 1 ELSE 0 END AS BIGINT)
                    FOR i IN generate_series(1, len(text), 1)]), 0)
                   AS n_striped,
               COALESCE(list_sum(
                   [CAST(ascii(substring(text, i, 1)) % 3 AS BIGINT)
                    FOR i IN generate_series(1, len(text), 1)]), 0)
                   AS stripe_sum
        FROM geo
    )
    SELECT doc_id,
           CAST(bw * 8 AS INTEGER) AS width,
           CAST(bh * 8 AS INTEGER) AS height,
           CAST(bw * bh AS INTEGER) AS gray_blocks,
           CAST(64 * (data_level_sum + 16 * (bw * bh - nd)) AS BIGINT)
               AS gray_pix_sum,
           CAST(n_striped AS INTEGER) AS gray_ac_nonzero,
           CAST(8 * stripe_sum AS BIGINT) AS gray_ac_abs_sum,
           CAST(64 * (data_level_sum + 16 * (bw * bh - nd)) AS DOUBLE)
               / (bw * bh * 64) AS gray_mean,
           CAST(bw * bh * 3 AS INTEGER) AS color_blocks,
           CAST(64 * (data_level_sum + 16 * (bw * bh - nd))
                + 2 * 128 * 64 * bw * bh AS BIGINT) AS color_pix_sum,
           CAST(n_striped AS INTEGER) AS color_ac_nonzero,
           CAST(8 * stripe_sum AS BIGINT) AS color_ac_abs_sum,
           CAST(64 * (data_level_sum + 16 * (bw * bh - nd))
                + 2 * 128 * 64 * bw * bh AS DOUBLE)
               / (bw * bh * 64 * 3) AS color_mean
    FROM stats
"""


@query("q134_jpeg_color_decode", _Q134_MERGED_ORACLE)
def q134_jpeg_color_decode(spark, sf_dir):
    """Stdlib baseline-JPEG decode, BOTH container shapes in one face.

    r19 fold: absorbs q132_jpeg_decode (registry.MERGED). Each document
    is rendered twice — as q132's single-component grayscale container
    and as q134's 3-component 4:4:4 interleaved color container — and
    both go through the same marker-parse -> canonical-Huffman ->
    dequant -> IDCT pipeline (operators/multimodal.py); the per-doc
    stats join on doc_id (gray_* = the retired q132 surface, color_* =
    the original q134 surface). A hash mismatch localizes: gray_* means
    the single-SOF/DC-chain path broke, color_* the interleaved-MCU /
    triple-DC-predictor path. Fixture-grade cost by design — the bench
    times the sampled q132s/q134s sentinels instead."""
    docs = _t(spark, sf_dir, "documents")
    gray = multimodal.decode_jpeg(
        multimodal.jpeg_from_documents(docs)
    ).select(
        "doc_id",
        "width",
        "height",
        F.col("n_blocks").alias("gray_blocks"),
        F.col("pix_sum").alias("gray_pix_sum"),
        F.col("ac_nonzero").alias("gray_ac_nonzero"),
        F.col("ac_abs_sum").alias("gray_ac_abs_sum"),
        (
            F.col("pix_sum").cast("double")
            / (F.col("width").cast("long") * F.col("height"))
        ).alias("gray_mean"),
    )
    color = multimodal.decode_jpeg(
        multimodal.jpeg_color_from_documents(docs)
    ).select(
        "doc_id",
        F.col("n_blocks").alias("color_blocks"),
        F.col("pix_sum").alias("color_pix_sum"),
        F.col("ac_nonzero").alias("color_ac_nonzero"),
        F.col("ac_abs_sum").alias("color_ac_abs_sum"),
        (
            F.col("pix_sum").cast("double")
            / (F.col("width").cast("long") * F.col("height") * 3)
        ).alias("color_mean"),
    )
    return gray.join(color, "doc_id")


# ---------------------------------------------------------------------------
# Weighted (PPS) systematic sampling — mixture construction where longer
# documents deserve proportionally more selection mass (token-weighted),
# integer-exact so both engines pick the identical sample
# ---------------------------------------------------------------------------

_Q138_ORACLE = f"""
    WITH w AS MATERIALIZED (
        SELECT doc_id, source,
               CAST({TH.sql_token_count('text')} AS BIGINT) AS tok_w
        FROM documents
    ),
    c AS MATERIALIZED (
        SELECT doc_id, source, tok_w,
               COALESCE(SUM(tok_w) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum,
               SUM(tok_w) OVER (PARTITION BY source) AS tot
        FROM w
    )
    SELECT source, doc_id, tok_w,
           CAST(cum // GREATEST(1, tot // 5) AS BIGINT) AS pick_slot
    FROM c
    WHERE (cum + tok_w) // GREATEST(1, tot // 5)
          > cum // GREATEST(1, tot // 5)
"""


@query("q138_pps_sample", _Q138_ORACLE)
def q138_pps_sample(spark, sf_dir):
    """Probability-proportional-to-size SYSTEMATIC sampling per source
    (the mixture-construction primitive: a document's selection mass is
    its token count, so sampling k docs per source favors long
    documents without a separate length-bias pass). Deterministic and
    INTEGER-exact — per-source token prefix sums, step = total//k, a
    doc is picked iff a step boundary falls inside its weight span —
    so both engines select the identical rows (no float pow/log
    tie-breaks, the failure mode of u^(1/w) A-ES across engines).

    Scale: one window per source (sort within each source's partition,
    parallel across sources). For strata too large for one task, the
    same prefix-sum decomposes hierarchically (per-partition partial
    sums + offsets); at bench scale the straightforward window is the
    plan you'd want. No UDFs, no collect."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        "source",
        TH.token_count(F.col("text")).cast("long").alias("tok_w"),
    )
    prior = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = w.select(
        "doc_id",
        "source",
        "tok_w",
        F.coalesce(F.sum("tok_w").over(prior), F.lit(0)).alias("cum"),
        F.sum("tok_w").over(W.partitionBy("source")).alias("tot"),
    )
    c = c.withColumn(
        "step", F.greatest(F.lit(1), F.expr("tot div 5"))
    )
    return c.filter(
        F.expr("(cum + tok_w) div step") > F.expr("cum div step")
    ).select(
        "source",
        "doc_id",
        "tok_w",
        F.expr("cum div step").cast("long").alias("pick_slot"),
    )


# ---------------------------------------------------------------------------
# Intra-document repetition filter (Gopher quality rules; the
# generated/boilerplate-text signal cross-document dedup cannot see)
# ---------------------------------------------------------------------------

_Q143_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {TH.sql_tokens('text')} AS toks FROM documents
    ),
    g AS (
        SELECT doc_id, len(toks) AS n_tokens,
               CASE WHEN len(toks) < 2 THEN []
                    ELSE [toks[i] || ' ' || toks[i + 1]
                          FOR i IN generate_series(1, len(toks) - 1)]
               END AS grams
        FROM t
    ),
    pg AS (
        SELECT doc_id, gram, count(*) AS c
        FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
        GROUP BY doc_id, gram
    ),
    s AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_2grams,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(max(c) AS BIGINT) AS top_2gram_n
        FROM pg GROUP BY doc_id
    )
    SELECT g.doc_id,
           CAST(g.n_tokens AS BIGINT) AS n_tokens,
           coalesce(s.n_2grams, 0) AS n_2grams,
           coalesce(s.n_2grams - s.n_distinct, 0) AS n_dup_2grams,
           coalesce(s.top_2gram_n, 0) AS top_2gram_n,
           coalesce(
               100 * (s.n_2grams - s.n_distinct)
                   <= {text_analysis.REP_DUP_MAX_PCT} * s.n_2grams
               AND 100 * s.top_2gram_n
                   <= {text_analysis.REP_TOP_MAX_PCT} * s.n_2grams,
               TRUE) AS keep
    FROM g LEFT JOIN s USING (doc_id)
"""


@query("q143_repetition_filter", _Q143_ORACLE)
def q143_repetition_filter(spark, sf_dir):
    """Gopher-style intra-document repetition gate
    (``text_analysis.repetition_stats``): per document, the word-2-gram
    duplication profile and an integer-exact keep decision (reject when
    duplicate 2-gram occurrences exceed 20% of all 2-grams, or the
    single most frequent 2-gram alone does) — the cheap generated-text
    signal that fires WITHIN one document where cross-document line
    dedup (q47) sees nothing. Shared tokenization with the oracle;
    the keep gate cross-multiplies BIGINTs so no float fraction exists
    to drift between engines."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.repetition_stats(docs)


# ---------------------------------------------------------------------------
# DSIR-style hashed importance weights (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling" — public method): score
# every raw document by how target-like its hashed n-gram feature
# distribution is. The weights feed the PPS sampler (q138) to build a
# target-matched training mixture without scoring models.
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256
_DSIR_TARGET = "('src1', 'src2', 'src3')"  # the trusted target domain

_Q148_ORACLE = f"""
    WITH f AS MATERIALIZED (
        SELECT doc_id, source, {{ph}} % {_DSIR_BUCKETS} AS f
        FROM (
            SELECT doc_id, source, unnest({{toks}}) AS tok FROM documents
        )
    ),
    rawc AS MATERIALIZED (
        SELECT f, CAST(count(*) AS BIGINT) AS q FROM f GROUP BY f
    ),
    tgtc AS MATERIALIZED (
        SELECT f, CAST(count(*) AS BIGINT) AS t FROM f
        WHERE source IN {_DSIR_TARGET} GROUP BY f
    ),
    tot AS MATERIALIZED (
        SELECT (SELECT CAST(sum(q) AS BIGINT) FROM rawc) AS qq,
               (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) FROM tgtc) AS tt
    ),
    model AS MATERIALIZED (
        SELECT rawc.f,
               CAST(floor(log10(
                        ((coalesce(t, 0) + 1.0) / (tt + {_DSIR_BUCKETS}))
                        / ((q + 1.0) / (qq + {_DSIR_BUCKETS})))
                    * {{lp}} + 0.5) AS BIGINT) AS lr
        FROM rawc LEFT JOIN tgtc USING (f), tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_toks,
           floor(CAST(sum(lr) AS DOUBLE) / count(*) / {{lp}} * 1e4 + 0.5)
               / 1e4 AS dsir_weight
    FROM f JOIN model USING (f)
    GROUP BY doc_id
""".format(
    ph=TH.sql_poly_hash("substring(tok, 1, 8)"),
    toks=TH.sql_tokens("text"),
    lp=text_analysis.LP_SCALE,
)


@query("q148_dsir_importance_weights", _Q148_ORACLE)
def q148_dsir_importance_weights(spark, sf_dir):
    """DSIR importance weights: per-document mean log10 likelihood ratio
    between the TARGET domain's hashed-unigram feature distribution
    (sources src1-3, the trusted subset) and the full raw corpus, add-one
    smoothed over {B} hash buckets. High-weight documents look like the
    target; resample raw data proportional to the weight (q138's PPS
    sampler) and the mixture's feature distribution converges on the
    target's — quality-directed selection with no scoring model.

    Cross-engine exactness follows the q88/q95 pattern: the MODEL is
    tiny (256 rows), so its per-bucket log-ratios are computed once as
    fixed-point int64 (identical doubles -> identical floor), and every
    per-document score is then an order-free INTEGER sum. Scale shape
    (r19): ONE bucket-sized aggregation builds the whole model — the
    raw count q and the target count t come out of the same
    ``groupBy(f)`` pass (t as a conditional count, integer-identical to
    the oracle's filtered aggregate + left join + coalesce), and the
    smoothing totals qq/tt are unbounded-window sums OVER the 256-row
    bucket relation rather than separate re-tokenizations of the
    corpus. The naive composition re-executed the explode+hash subtree
    once per derived relation — five corpus tokenize passes where two
    suffice (model build + per-document fold); the model then
    broadcasts (256 rows) and the per-document fold is one
    map-side-combined aggregation — no shuffle keyed on anything wider
    than doc_id."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    lp = text_analysis.LP_SCALE
    B = _DSIR_BUCKETS
    feats = docs.select(
        "doc_id",
        "source",
        F.explode(TH.tokens(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "source",
        # 8-char-prefix short hash: bit-identical to poly_hash of
        # the same prefix at 1/4 the expression-chain cost — DSIR
        # bucket features do not need full-token fidelity
        (TH.poly_hash_short(F.substring("tok", 1, 8), 8) % B).alias("f"),
    )
    # q and t in ONE pass over the token stream: t counts only target-
    # domain tokens (count of a non-NULL WHEN = the filtered count; a
    # bucket with no target tokens gets 0, exactly the oracle's
    # coalesce(t, 0) after its left join)
    bucket = feats.groupBy("f").agg(
        F.count(F.lit(1)).alias("q"),
        F.count(
            F.when(F.col("source").isin("src1", "src2", "src3"), F.lit(1))
        ).alias("t"),
    )
    # smoothing totals: integer sums over the 256-row bucket relation
    # (sum of per-bucket counts == the direct global counts), attached
    # with one unbounded window instead of re-aggregating the corpus
    from pyspark.sql import Window as W

    tot = W.partitionBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    model = bucket.select(
        "f",
        F.floor(
            F.log10(
                ((F.col("t") + F.lit(1.0)) / (F.sum("t").over(tot) + F.lit(B)))
                / ((F.col("q") + F.lit(1.0)) / (F.sum("q").over(tot) + F.lit(B)))
            )
            * lp
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lr"),
    )
    return (
        feats.join(F.broadcast(model), "f")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            (
                F.floor(
                    F.sum("lr").cast("double")
                    / F.count(F.lit(1))
                    / lp
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("dsir_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture reweighting (the multilingual-sampling
# formula of mT5/XLM-R, public: p_s ∝ n_s^alpha) — the mixture-design
# counterpart of q138's PPS sampler and q148's DSIR weights: how much to
# over/under-sample each SOURCE so small sources aren't drowned.
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.3  # the mT5 default: strong flattening, order preserved
_MIX_SCALE = 1_000_000

_Q149_ORACLE = f"""
    WITH s AS MATERIALIZED (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum({TH.sql_token_count('text')}) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    p AS MATERIALIZED (
        SELECT source, n_docs, n_tokens,
               CAST(floor(power(CAST(n_tokens AS DOUBLE), {_MIX_ALPHA})
                          * {_MIX_SCALE} + 0.5) AS BIGINT) AS pfix
        FROM s
    )
    SELECT source, n_docs, n_tokens,
           CAST(pfix * {_MIX_SCALE}
                // CAST((SELECT sum(pfix) FROM p) AS BIGINT)
                AS BIGINT) AS share_ppm,
           CAST(pfix * {_MIX_SCALE}
                // CAST((SELECT sum(pfix) FROM p) AS BIGINT)
                * CAST((SELECT sum(n_tokens) FROM p) AS BIGINT)
                // n_tokens
                AS BIGINT) AS boost_ppm
    FROM p
"""


@query("q149_mixture_temperature", _Q149_ORACLE)
def q149_mixture_temperature(spark, sf_dir):
    """Temperature-scaled source mixture: sampling share p_s ∝
    n_tokens_s^alpha (alpha=0.3, the mT5 flattening), reported per
    source as ``share_ppm`` (parts-per-million of the training mixture)
    and ``boost_ppm`` (the over/undersampling factor vs the natural
    token share — >1e6 means the source is upsampled). Feed the boosts
    into q85's weighted interleave or q138's PPS sampler to materialize
    the mixture.

    Cross-engine exactness: the only irrational step (power) runs on
    the SOURCE-level relation (~20 rows, identical doubles -> identical
    fixed-point int64); the normalization and boost are then pure
    BIGINT arithmetic — no order-dependent double sums anywhere.

    Shape (r19): the normalization totals attach as UNBOUNDED WINDOW
    SUMS over the ~20-row source relation — the former 1-row
    ``agg`` + ``crossJoin(broadcast)`` attach re-executed the corpus
    token-count pass a second time (its lineage includes the full
    aggregation subtree); the window computes the identical integer
    sums in place, so the corpus is scanned exactly once. The single-
    partition window frame is over the source-cardinality relation
    (low tens of rows at any corpus size), never the fact stream."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TH.token_count(F.col("text"))).alias("n_tokens"),
    )
    p = s.select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor(
            F.pow(F.col("n_tokens").cast("double"), F.lit(_MIX_ALPHA))
            * _MIX_SCALE
            + F.lit(0.5)
        )
        .cast("long")
        .alias("pfix"),
    )
    tot = W.partitionBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    p = p.withColumn("psum", F.sum("pfix").over(tot)).withColumn(
        "toksum", F.sum("n_tokens").over(tot)
    )
    # INTEGER division on both engines (Spark `div`, DuckDB `//`):
    # double division + cast disagrees across engines (DuckDB's
    # double->BIGINT cast rounds, Spark's truncates — a one-ppm skew)
    return p.selectExpr(
        "source",
        "n_docs",
        "n_tokens",
        f"pfix * {_MIX_SCALE} div psum AS share_ppm",
        f"pfix * {_MIX_SCALE} div psum * toksum div n_tokens AS boost_ppm",
    )


def _q150_oracle():
    from .operators.wordpiece import wordpiece_oracle_sql

    return wordpiece_oracle_sql(num_merges=6, min_pair_count=2)


@query("q150_wordpiece_merges", _q150_oracle())
def q150_wordpiece_merges(spark, sf_dir):
    """WordPiece tokenizer training over the corpus (ref: the tokenizer
    surface q81/q106 cover for BPE; WordPiece is the BERT-family variant,
    Schuster & Nakajima 2012, public). Same corpus-fold-to-word-relation
    shape as q81 — every iteration touches only the vocabulary-sized
    word-frequency relation — but the argmax ranks by the likelihood
    ratio n/(ln*rn) instead of raw pair count, so the symbol-count
    relation joins the pair relation (two extra vocab-sized joins per
    merge, still no corpus re-scan). The score column is a double whose
    operation order (exact integer product cast to double, one IEEE
    division) is matched in the DuckDB oracle, so the driver hash
    compares bit-identical values."""
    from .operators.wordpiece import wordpiece_train

    docs = _t(spark, sf_dir, "documents")
    res = wordpiece_train(docs, num_merges=6, min_pair_count=2)
    return spark.createDataFrame(
        [
            (i + 1, l, r, float(s), int(n))
            for i, (l, r, s, n) in enumerate(res["merges"])
        ],
        "merge_rank INT, left STRING, right STRING, "
        "score DOUBLE, pair_count BIGINT",
    )


# q151_pq_rerank_knn: FOLDED into q28_knn_brute (r18) — the registered
# face computes both the brute-force and the full-shortlist PQ-rerank
# paths and asserts identity (registry.MERGED records the fold).


def _q153_oracle() -> str:
    """Full SQL restatement of the binary-signature tier: fixed-point
    exact centering means (the q107 integer-micro discipline — float
    avg would expose cross-engine summation order), the 64-bit sign
    pack with bit 63 as the BIGINT sign bit, and bit_count(xor) top-k.
    Every arithmetic step is integer or a single IEEE division, so the
    driver hash compares bit-identical values."""
    w_terms = ", ".join(
        "-9223372036854775808" if i == 63 else f"{1 << i}"
        for i in range(64)
    )
    return f"""
    WITH u AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE len(embedding) = 64
    ),
    dims AS MATERIALIZED (
        SELECT u.vec_id, t.i, u.v[t.i] AS x,
               ([{w_terms}]::BIGINT[])[t.i] AS w
        FROM u, generate_series(1, 64) t(i)
    ),
    m AS MATERIALIZED (
        SELECT i,
               CAST(sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                   / (count(*) * 1e6) AS mu
        FROM dims GROUP BY i
    ),
    sigs AS MATERIALIZED (
        SELECT d.vec_id,
               CAST(sum(CASE WHEN d.x > m.mu THEN d.w ELSE 0 END)
                    AS BIGINT) AS sig
        FROM dims d JOIN m USING (i)
        WHERE d.vec_id IN (
            SELECT vec_id FROM u
            WHERE sqrt(list_sum(list_transform(v, x -> x * x))) > 0
        )
        GROUP BY d.vec_id
    ),
    scored AS (
        SELECT p.vec_id AS probe_id, c.vec_id,
               CAST(bit_count(xor(c.sig, p.sig)) AS INTEGER) AS hamming
        FROM sigs c, sigs p
        WHERE p.vec_id % 50 = 0 AND c.vec_id <> p.vec_id
    )
    SELECT probe_id, vec_id, hamming, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY hamming, vec_id
        ) AS rank FROM scored
    ) WHERE rank <= 5
"""


@query("q153_binary_hamming_knn", _q153_oracle())
def q153_binary_hamming_knn(spark, sf_dir):
    """Binary-signature pre-ranking tier end to end (staged for an r18
    slot): corpus-mean-centered sign bits packed into one BIGINT per
    vector, probes = every 50th vector, top-5 by bit_count(XOR). The
    centering means come from a FIXED-POINT micro-unit aggregate (the
    q107 discipline) so both engines derive bit-identical thresholds —
    a float avg would expose double-summation order. Certifies the
    sign pack (incl. bit 63 on the long sign bit), the zero-norm
    admission rule, and the Hamming ranking cross-engine."""
    from .operators import simsearch as SS

    emb = _t(spark, sf_dir, "embeddings")
    v = simsearch.as_double("embedding")
    sums = (
        emb.select(v.alias("_v"))
        .filter(F.size("_v") == simsearch.EMBED_DIM)
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.floor(F.element_at("_v", i + 1) * 1e6 + 0.5).cast(
                        "long"
                    )
                ).alias(f"s{i}")
                for i in range(simsearch.EMBED_DIM)
            ],
        )
        .first()
    )
    means = [
        float(sums[f"s{i}"]) / (sums["n"] * 1e6)
        for i in range(simsearch.EMBED_DIM)
    ]
    sigs = SS.binary_signatures(emb, means)
    probes = sigs.filter(F.col("vec_id") % 50 == 0)
    return SS.knn_hamming(sigs, probes, k=5)


@query("q154_webdataset_roundtrip", """
    SELECT CAST(doc_id AS VARCHAR) AS __key, text FROM documents
""")
def q154_webdataset_roundtrip(spark, sf_dir):
    """WebDataset sink/source round-trip as a driver-oracle face
    (staged for r18): export the documents corpus to tar shards, read
    it back distributed, decode the text modality — the hash match
    against the raw table proves the whole export/commit/untar path
    loses and alters nothing."""
    import os

    from .queries_relational import _scratch_root
    from .sources.webdataset import read_webdataset, write_webdataset

    out = os.path.join(_scratch_root("q154", sf_dir), "wds")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    write_webdataset(docs, out, {"text": "txt"}, key_col="doc_id")
    back = read_webdataset(spark, out)
    return back.select("__key", F.decode(F.col("text"), "utf-8").alias("text"))


# q155_pipeline_spec_build: FOLDED into q38_cleaning_pipeline (r18) —
# the registered face runs the hand chain AND the spec runner and
# asserts identity (registry.MERGED records the fold).
# q156_semantic_dedup_indexed: FOLDED into q82_semantic_dedup (r18) —
# the registered face computes the LSH-blocked and IVF-PQ-index pair
# routes and asserts identity (registry.MERGED records the fold).


_Q159_ORACLE = f"""
    WITH {_EMB_CTES},
    e AS (SELECT vec_id AS eval_id, v AS q, nrm AS qn FROM cn
          WHERE {_PROBE_FILTER}),
    t AS (SELECT vec_id AS id, v, nrm FROM cn
          WHERE NOT ({_PROBE_FILTER})),
    scored AS (
        SELECT t.id, {_sql_dot('t.v', 'e.q')} / (t.nrm * e.qn) AS score
        FROM t, e
    )
    SELECT id, count(*) AS n_eval_hits, max(score) AS max_score
    FROM scored WHERE score >= {_EC_THRESHOLD}
    GROUP BY id
"""


@query("q159_decontam_indexed", _Q159_ORACLE)
def q159_decontam_indexed(spark, sf_dir):
    """Index-backed embedding decontamination (the r17 verdict's
    stretch item, staged for an r19/r20 slot): q58's benchmark-overlap
    gate routed through the managed IVF-PQ index — the training
    vectors build an index in a scratch warehouse, the held-out eval
    set becomes DISTRIBUTED probes (``collect_probes=False``), and
    exhaustive nprobe + full fan-out + exact rerank make the result
    EXACT exhaustive contamination, restated in the oracle as a plain
    cross join (stronger than q58's LSH-blocked recall — no bucket
    boundary can hide a hit). Certifies that the benchmark-overlap
    gate rides the same at-scale index backbone as semantic dedup
    (q82's fold); at 100 TB nprobe/k shrink for the faiss recall/cost
    trade."""
    from .operators.ann_index import build_ann_index
    from .operators.decontam import embedding_contamination_via_index
    from .queries_relational import _scratch_root
    from .sources.warehouse import ParquetWarehouse

    emb = _t(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 50 == 0)
    tr = emb.filter(F.col("vec_id") % 50 != 0)
    wh = ParquetWarehouse(_scratch_root("q159", sf_dir))
    build_ann_index(wh, tr, "decidx", n_lists=8, m=8, k=32)
    return embedding_contamination_via_index(
        wh, spark, "decidx", tr, ev, threshold=_EC_THRESHOLD
    )


def _q157_oracle() -> str:
    """Full SQL restatement of lang-model train + classify (both sides
    of the NB pipeline): char-trigram extraction, per-lang top-V
    profile cut (count desc / trigram asc), union-vocab add-one
    smoothing with every log-prob quantized to integer micro-units at
    'train' time (the q48/q88 LP_SCALE discipline — scoring sums are
    then exact integers on both engines), matched-mass scoring with the
    analytic unseen floor, window argmax, and the und short-text rule."""
    return """
    WITH docs AS MATERIALIZED (SELECT doc_id, text, lang FROM documents),
    tri AS MATERIALIZED (
        SELECT doc_id, lang,
               unnest(list_transform(
                   generate_series(1, len(text) - 2),
                   i -> substr(text, CAST(i AS INTEGER), 3))) AS tri
        FROM docs WHERE len(text) >= 3
    ),
    ltri AS MATERIALIZED (
        SELECT lang, tri, CAST(count(*) AS BIGINT) AS cnt
        FROM tri GROUP BY lang, tri
    ),
    kept AS MATERIALIZED (
        SELECT lang, tri, cnt FROM (
            SELECT *, row_number() OVER (
                PARTITION BY lang ORDER BY cnt DESC, tri ASC
            ) AS rn FROM ltri
        ) WHERE rn <= 2000
    ),
    vocab AS MATERIALIZED (
        SELECT CAST(count(DISTINCT tri) AS BIGINT) AS v FROM kept
    ),
    totals AS MATERIALIZED (
        SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot FROM kept GROUP BY lang
    ),
    langs AS MATERIALIZED (
        -- LEFT join + coalesce: a language whose every doc is shorter
        -- than the n-gram width contributes no trigrams but still
        -- holds a grid slot with tot=0, exactly as train_lang_model's
        -- totals.get(lang, 0) does
        SELECT p.lang,
               CAST(floor(ln(CAST(p.docs_n AS DOUBLE)
                             / (SELECT CAST(count(*) AS BIGINT) FROM docs))
                          * 1e6 + 0.5) AS BIGINT) AS prior,
               CAST(floor(ln(1.0 / (coalesce(t.tot, 0)
                                    + (SELECT v FROM vocab)))
                          * 1e6 + 0.5) AS BIGINT) AS floor_m,
               coalesce(t.tot, 0) AS tot
        FROM (SELECT lang, CAST(count(*) AS BIGINT) AS docs_n
              FROM docs GROUP BY lang) p
        LEFT JOIN totals t USING (lang)
    ),
    model AS MATERIALIZED (
        SELECT k.tri, k.lang,
               CAST(floor(ln((k.cnt + 1.0)
                             / (l.tot + (SELECT v FROM vocab)))
                          * 1e6 + 0.5) AS BIGINT) AS logp
        FROM kept k JOIN langs l USING (lang)
    ),
    dtri AS MATERIALIZED (
        SELECT doc_id, tri, CAST(count(*) AS BIGINT) AS cnt
        FROM tri GROUP BY doc_id, tri
    ),
    ntri AS MATERIALIZED (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS nt
        FROM dtri GROUP BY doc_id
    ),
    matched AS MATERIALIZED (
        SELECT d.doc_id, m.lang,
               CAST(sum(d.cnt * (m.logp - l.floor_m)) AS BIGINT) AS mm
        FROM dtri d
        JOIN model m USING (tri)
        JOIN langs l ON l.lang = m.lang
        GROUP BY d.doc_id, m.lang
    ),
    ranked AS MATERIALIZED (
        SELECT doc_id, lang, score, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, lang ASC
        ) AS rn FROM (
            SELECT n.doc_id, l.lang,
                   l.prior + n.nt * l.floor_m + coalesce(mm.mm, 0) AS score
            FROM ntri n
            CROSS JOIN langs l
            LEFT JOIN matched mm
              ON mm.doc_id = n.doc_id AND mm.lang = l.lang
        )
    )
    SELECT b.doc_id, b.lang_pred,
           CAST(coalesce(b.s1 - s.s2, 0) AS DOUBLE) / 1e6 AS margin
    FROM (SELECT doc_id, lang AS lang_pred, score AS s1
          FROM ranked WHERE rn = 1) b
    LEFT JOIN (SELECT doc_id, score AS s2 FROM ranked WHERE rn = 2) s
      USING (doc_id)
    UNION ALL
    -- NULL text ORs in: Spark's short-branch anti-join emits und for
    -- it (char_ngrams of NULL is the empty array), and a bare
    -- len(text) < 3 is NULL for NULL text, silently dropping the row
    SELECT doc_id, 'und' AS lang_pred, NULL AS margin
    FROM docs WHERE text IS NULL OR len(text) < 3
"""


@query("q157_lang_model_id", _q157_oracle())
def q157_lang_model_id(spark, sf_dir):
    """Trainable char-trigram NB language ID end to end (staged for
    r18): train on the documents table's own labels, classify the
    corpus, emit (doc_id, lang_pred, margin). The fixture labels are
    uncorrelated with the text, which is irrelevant here — the face
    certifies CROSS-ENGINE PARITY of the whole train+score pipeline
    (profile cut ties, micro-unit quantization boundaries, integer
    scoring, argmax tie-breaks), not linguistic accuracy (that's
    pinned on a distribution-distinct fixture in pytest)."""
    from .operators import lang_model as LM

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    model = LM.train_lang_model(docs)
    return LM.classify_lang(docs.drop("lang"), model)
