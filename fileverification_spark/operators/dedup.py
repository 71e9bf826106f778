"""Deduplication operators for training-data pipelines (task brief):
exact, MinHash+LSH, SimHash, n-gram Jaccard — all over ``documents``.

Scale design:

- Signatures (MinHash, SimHash) are **per-row array expressions** — one
  SHA-256 per shingle/token plus cheap universal-hash arithmetic, fully
  codegen'd, zero shuffle. At 100 TB this pipelines with the scan.
- Candidate generation is the only shuffle: explode B band keys per doc
  (MinHash-LSH) and self-join on (band, key). Band keys are
  near-uniformly distributed (hash values), so the shuffle has no
  planned skew; AQE skew-join is the backstop for pathological corpora
  (e.g. billions of empty documents sharing one signature).
- Verification (exact Jaccard) runs only on surviving candidate pairs.

Universal hash: h' = sha256(shingle) & 0x7FFFFFFF once per shingle, then
minhash_i = (a_i * h' + b_i) mod p with p = 2^31 - 1. a_i * h' < 2^62 so
the arithmetic never overflows ANSI BIGINT in either engine — Spark 4
runs ANSI mode by default and would *error* on overflow, not wrap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fileverification_spark.functions import text as TX
from fileverification_spark.operators import fixpoint as FP

MERSENNE_P = 2147483647  # 2^31 - 1
HASH_MASK = 0x7FFFFFFF

DEFAULT_NUM_HASHES = 32
DEFAULT_BANDS = 8
DEFAULT_SHINGLE = 5
DEFAULT_SIMHASH_BITS = 16


def _hash_params(n: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the universal hash family."""
    out = []
    for i in range(n):
        a = ((2 * i + 1) * 2654435761) % MERSENNE_P
        b = (i * 40503 + 2654435769) % MERSENNE_P
        out.append((a if a > 0 else 1, b))
    return out


# ---------------------------------------------------------------------------
# Exact / fingerprint dedup
# ---------------------------------------------------------------------------


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup on the normalised fingerprint: one row per
    distinct content, keeper = min(doc_id) (deterministic, unlike the
    reference's first-writer-wins TryAdd races, CheckSumFile.cs:146)."""
    fp = docs.select(
        F.col("doc_id"), TX.fingerprint(F.col("text")).alias("fp")
    )
    return fp.groupBy("fp").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def canonical_families(pages: DataFrame, url_col: str = "url",
                       id_col: str = "doc_id") -> DataFrame:
    """Canonical-URL dedup: fold surface-URL variants of the same page
    (scheme/host case, `www.`, default ports, tracking params,
    fragments — functions/urls.py contract) into one family per
    canonical key; keeper = min(id). The canonicalisation is a
    codegen'd scan-side expression, so the plan is one projection plus
    one hash-groupBy — the same shape as dedup_exact, keyed on URL
    rather than content (catches mirrored pages BEFORE fetch/hashing
    cost in a real crawl pipeline)."""
    from fileverification_spark.functions import urls as U

    c = pages.select(
        F.col(id_col).alias("doc_id"),
        U.url_canonicalize(F.col(url_col)).alias("canonical_url"),
    )
    return c.groupBy("canonical_url").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_variants"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def shingle_hashes(text: Column, n: int = DEFAULT_SHINGLE) -> Column:
    """array<bigint>: 31-bit hash per char-n-gram shingle (with dups —
    min() is multiplicity-blind so distinct is unnecessary work)."""
    sh = TX.char_ngrams(text, n)
    return F.transform(
        sh,
        lambda s: F.conv(F.substring(F.sha2(s, 256), 1, 8), 16, 10)
        .cast("bigint")
        .bitwiseAND(F.lit(HASH_MASK)),
    )


def minhash_signature_from_hashes(
    hs: Column, num_hashes: int = DEFAULT_NUM_HASHES
) -> Column:
    """array<bigint> MinHash signature from a *materialised* shingle-hash
    column. The num_hashes min-expressions all reference one column, so
    the SHA-256 work happens once per row — inlining shingle_hashes here
    instead would be recomputed per signature position (a measured 30x
    slowdown: Spark's CollapseProject keeps expensive expressions from
    being duplicated only when they are a separate projection)."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hs, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P)
                )
            )
            for a, b in _hash_params(num_hashes)
        ]
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    hashed = docs.where(F.length("text") >= shingle_n).select(
        "doc_id", shingle_hashes(F.col("text"), shingle_n).alias("hs")
    )
    return hashed.select(
        "doc_id", minhash_signature_from_hashes(F.col("hs"), num_hashes).alias("sig")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    persist: bool = True,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing >= 1 LSH band bucket, with
    est_jaccard = matching signature positions / num_hashes.

    Plan shape: explode B bands per doc -> self equi-join on (band, key)
    -> distinct -> rejoin signatures for the estimate. The band key is a
    sha256 of the slice so bucket strings stay short on the shuffle.

    The plan references ``sigs`` THREE times (band explode + both sides
    of the estimate rejoin); without materialisation Spark recomputes the
    full shingle+minhash projection each time (measured 3x cost).
    ``persist=True`` pins the signature relation (MEMORY_AND_DISK — tiny
    next to the corpus: ~8B x num_hashes per doc). The 100 TB deployment
    writes signatures to a table once and feeds that here instead.
    """
    if persist:
        sigs = sigs.persist()
    rows = num_hashes // bands
    band_entries = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.sha2(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows + 1, rows),
                                lambda v: v.cast("string"),
                            ),
                        ),
                        256,
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    left = band_entries.alias("l")
    right = band_entries.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.round(
        F.aggregate(
            F.zip_with(
                F.col("sig_a"),
                F.col("sig_b"),
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(num_hashes)),
        6,
    )
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, pairs: DataFrame, shingle_n: int = DEFAULT_SHINGLE
) -> DataFrame:
    """Exact n-gram-set Jaccard for candidate (doc_a, doc_b) pairs —
    the verification stage after LSH."""
    sets = docs.select(
        "doc_id",
        F.array_distinct(TX.char_ngrams(F.col("text"), shingle_n)).alias("sh"),
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    uni = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = F.when(uni > 0, inter.cast("double") / uni).otherwise(F.lit(0.0))
    return (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(text: Column, bits: int = DEFAULT_SIMHASH_BITS) -> Column:
    """Majority-vote SimHash over 31-bit token hashes (multiplicity
    counts). MSB-first fold: acc*2 + bit keeps everything in bigint
    without shifts by a column."""
    th = F.transform(
        TX.tokens(text),
        lambda t: F.conv(F.substring(F.sha2(t, 256), 1, 8), 16, 10)
        .cast("bigint")
        .bitwiseAND(F.lit(HASH_MASK)),
    )
    def bit_vote(j: int) -> Column:
        return F.aggregate(
            th,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
    acc = F.lit(0).cast("bigint")
    for j in range(bits - 1, -1, -1):
        acc = acc * F.lit(2) + F.when(bit_vote(j) > 0, F.lit(1)).otherwise(F.lit(0))
    return acc


def simhash_docs(docs: DataFrame, bits: int = DEFAULT_SIMHASH_BITS) -> DataFrame:
    return docs.select("doc_id", simhash(F.col("text"), bits).alias("simhash"))


def simhash_buckets(docs: DataFrame, bits: int = DEFAULT_SIMHASH_BITS) -> DataFrame:
    """Near-dup candidate groups: docs sharing an identical SimHash."""
    sh = simhash_docs(docs, bits)
    return (
        sh.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_id"))
        .where(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle mirrors
# ---------------------------------------------------------------------------


def sql_shingle_hashes(text_expr: str, n: int = DEFAULT_SHINGLE) -> str:
    ng = TX.sql_char_ngrams(text_expr, n)
    return (
        f"list_transform({ng}, s -> "
        f"CAST(('0x' || substr(sha256(s), 1, 8)) AS BIGINT) & {HASH_MASK})"
    )


def sql_minhash_signatures_cte(
    docs_rel: str = "documents",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = DEFAULT_SHINGLE,
) -> str:
    """CTE body: sigs(doc_id, sig). Uses a lateral-style subquery so the
    shingle-hash list is computed once per doc."""
    hs = sql_shingle_hashes("text", shingle_n)
    parts = [
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MERSENNE_P}))"
        for a, b in _hash_params(num_hashes)
    ]
    return f"""
SELECT doc_id, [{', '.join(parts)}] AS sig
FROM (SELECT doc_id, {hs} AS hs FROM {docs_rel} WHERE length(text) >= {shingle_n})"""


def sql_lsh_pairs_query(
    docs_rel: str = "documents",
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = DEFAULT_SHINGLE,
) -> str:
    """Full standalone query: candidate pairs + est_jaccard."""
    rows = num_hashes // bands
    return f"""
WITH sigs AS ({sql_minhash_signatures_cte(docs_rel, num_hashes, shingle_n)}),
bandkeys AS (
  SELECT doc_id, b.band,
         sha256(array_to_string(sig[b.band * {rows} + 1 : b.band * {rows} + {rows}], ',')) AS key
  FROM sigs, (SELECT unnest(range(0, {bands})) AS band) b
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bandkeys l JOIN bandkeys r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
)
SELECT c.doc_a, c.doc_b,
       round(list_sum(list_transform(list_zip(sa.sig, sb.sig),
             p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) / {num_hashes}.0, 6)
       AS est_jaccard
FROM cand c
JOIN sigs sa ON sa.doc_id = c.doc_a
JOIN sigs sb ON sb.doc_id = c.doc_b"""


def sql_ngram_jaccard_query(
    docs_rel: str = "documents",
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = DEFAULT_SHINGLE,
) -> str:
    """Full standalone query: exact n-gram Jaccard on LSH candidates."""
    rows = num_hashes // bands
    ng = TX.sql_char_ngrams("text", shingle_n)
    return f"""
WITH sigs AS ({sql_minhash_signatures_cte(docs_rel, num_hashes, shingle_n)}),
bandkeys AS (
  SELECT doc_id, b.band,
         sha256(array_to_string(sig[b.band * {rows} + 1 : b.band * {rows} + {rows}], ',')) AS key
  FROM sigs, (SELECT unnest(range(0, {bands})) AS band) b
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bandkeys l JOIN bandkeys r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
),
sets AS (SELECT doc_id, list_distinct({ng}) AS sh FROM {docs_rel})
SELECT c.doc_a, c.doc_b,
       round(CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) > 0
             THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
             ELSE 0.0 END, 6) AS jaccard
FROM cand c JOIN sets a ON a.doc_id = c.doc_a JOIN sets b ON b.doc_id = c.doc_b"""


def sql_simhash_docs_query(
    docs_rel: str = "documents", bits: int = DEFAULT_SIMHASH_BITS
) -> str:
    """Full standalone query: (doc_id, simhash)."""
    toks = TX.sql_tokens("text")
    th = (
        f"list_transform({toks}, t -> "
        f"CAST(('0x' || substr(sha256(t), 1, 8)) AS BIGINT) & {HASH_MASK})"
    )
    expr = "CAST(0 AS BIGINT)"
    for j in range(bits - 1, -1, -1):
        vote = (
            f"list_sum(list_transform(th, h -> "
            f"CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        expr = f"({expr} * 2 + (CASE WHEN COALESCE({vote}, 0) > 0 THEN 1 ELSE 0 END))"
    return f"""
SELECT doc_id, {expr} AS simhash
FROM (SELECT doc_id, {th} AS th FROM {docs_rel})"""


# ---------------------------------------------------------------------------
# Near-duplicate clusters (pairs -> connected components)
# ---------------------------------------------------------------------------


def duplicate_clusters(
    docs: DataFrame,
    tau: float = 0.35,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = DEFAULT_SHINGLE,
    max_iters: int = 64,
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    pair relation (LSH candidates whose exact n-gram Jaccard >= tau),
    completing the dedup story from pairwise to set-level — the form a
    corpus pipeline actually consumes (keep ONE doc per cluster, drop
    the rest), vs the reference's per-file first-writer-wins keeper
    (CheckSumFile.cs:146).

    Returns (doc_id, cluster_id, is_keeper) for every doc that appears
    in >= 1 verified pair; cluster_id = min doc_id of the component,
    keeper = that minimum (deterministic).

    Scale shape: candidate generation stays bucketed (LSH bands), exact
    Jaccard runs only on survivors, and components come from the shared
    min-label fixpoint (:func:`fixpoint.min_labels`, as
    ``graph.connected_components``) over the verified-pair relation — no
    driver-side collect; the edge relation is |verified pairs|, tiny
    next to the corpus. Each sweep is one eagerly staged join + partial-
    agg min whose Observation carries the changed-row count.
    ``max_iters`` bounds chain-shaped components and raises rather than
    returning unconverged labels.
    """
    sigs = minhash_signatures(docs, num_hashes, shingle_n)
    pairs = lsh_candidate_pairs(sigs, bands, num_hashes)
    verified = ngram_jaccard_pairs(docs, pairs, shingle_n).where(
        F.col("jaccard") >= tau
    )
    labels = FP.min_labels(
        verified.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        "duplicate_clusters",
        max_iters,
    )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


def sql_duplicate_clusters_query(
    docs_rel: str = "documents",
    tau: float = 0.35,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = DEFAULT_SHINGLE,
) -> str:
    """Oracle: recursive-CTE transitive closure over the verified-pair
    relation; cluster_id = min reachable doc_id (mirrors the min-label
    fixpoint exactly)."""
    inner = sql_ngram_jaccard_query(docs_rel, bands, num_hashes, shingle_n)
    return f"""
WITH RECURSIVE verified AS (
  SELECT doc_a, doc_b FROM ({inner}) WHERE jaccard >= {tau}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION
  SELECT doc_b, doc_a FROM verified
),
nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, min(b) AS cluster_id, (a = min(b)) AS is_keeper
FROM reach GROUP BY a"""


# ---------------------------------------------------------------------------
# Paragraph-level exact dedup (C4/RefinedWeb-style line hygiene)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    docs: DataFrame, sep: str = "\n\n", text_col: str = "text"
) -> DataFrame:
    """Paragraph-level exact dedup: split every doc into paragraphs on
    ``sep``, keep only the GLOBAL first occurrence of each distinct
    paragraph (total order = (doc_id, position)), and reassemble the
    surviving paragraphs in original order — the C4/RefinedWeb line-dedup
    hygiene pass, i.e. the reference's first-writer-wins keeper
    (CheckSumFile.cs:146) applied at sub-document granularity.

    Returns (doc_id, clean_text, n_paras, n_kept); docs whose every
    paragraph lost the first-occurrence race come back with clean_text =
    '' (kept, not dropped — the caller decides on gating).

    Scale shape: the keeper is ``min(struct(doc_id, idx))`` per
    paragraph — partial-aggregatable (map-side combine), so the shuffle
    carries one candidate per (paragraph, map partition) instead of a
    global row_number sort over every paragraph occurrence (the SQL
    oracle uses the window form; the semantics are identical, the
    struct-min is the 100 TB plan). Reassembly groups by doc_id —
    paragraphs of a doc are co-located after one shuffle keyed on the
    doc, and ``array_sort`` restores original order without a sort
    exchange. ``sep`` must be regex-metachar-free: Spark ``split`` takes
    a regex, the DuckDB mirror splits literally.
    """
    paras = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), sep)).alias("idx", "para"),
    )
    keepers = paras.groupBy("para").agg(
        F.min(F.struct("doc_id", "idx")).alias("k")
    )
    flagged = paras.join(keepers, "para").select(
        "doc_id",
        "idx",
        "para",
        (
            (F.col("doc_id") == F.col("k.doc_id")) & (F.col("idx") == F.col("k.idx"))
        ).alias("keep"),
    )
    kept_struct = F.when(F.col("keep"), F.struct("idx", "para"))
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["para"]
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_paras"),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
    )


#: exact-substring dedup window / stride (chars). 32/16 overlaps every
#: 16-char phase, so any shared run >= window+stride-1 = 47 chars that
#: starts at equal offsets mod stride is guaranteed to collide.
DUP_WINDOW = 32
DUP_STRIDE = 16


def shingle_duplicates(
    docs: DataFrame,
    window: int = DUP_WINDOW,
    stride: int = DUP_STRIDE,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplicate report à la Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"): every
    stride-aligned ``window``-char substring is content-hashed; a
    shingle present in >= ``min_docs`` DISTINCT docs is a verbatim
    cross-document copy (licence blocks, templated headers, mirrored
    articles) — the signal ExactSubstr dedup cuts at.

    Returns (shingle_sha, n_docs, n_occs, first_doc). This is the
    strided approximation of the paper's suffix-array pass: a suffix
    array is inherently sequential; the strided form is ONE
    narrow map (sequence -> transform -> sha2, all codegen'd, ~len/stride
    rows per doc) + ONE hash-groupBy on a uniform 256-bit key — the
    same shuffle shape as dedup_exact, so it pipelines with the scan at
    100 TB. Detection guarantee: shared runs >= window+stride-1 chars at
    equal offsets mod stride always collide; unaligned copies are caught
    probabilistically (window/stride=2 phases). first_doc/min are
    order-independent aggregates (partial-aggregatable, engine-stable).
    """
    t = F.col("text")
    positions = F.sequence(
        F.lit(1), F.length(t) - window + 1, F.lit(stride)
    )
    ex = docs.where(F.length(t) >= window).select(
        "doc_id",
        F.explode(
            F.transform(
                positions,
                lambda p: F.upper(F.sha2(t.substr(p, F.lit(window)), 256)),
            )
        ).alias("shingle_sha"),
    )
    return (
        ex.groupBy("shingle_sha")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def sql_shingle_duplicates_query(
    docs_rel: str = "documents",
    window: int = DUP_WINDOW,
    stride: int = DUP_STRIDE,
    min_docs: int = 2,
) -> str:
    """Oracle: identical positions via generate_series (inclusive, like
    Spark sequence) + substr + sha256, HAVING on the distinct-doc count."""
    return f"""
WITH shingles AS (
  SELECT doc_id,
         upper(sha256(substr(text, CAST(p AS BIGINT), {window})))
           AS shingle_sha
  FROM (
    SELECT doc_id, text,
           unnest(generate_series(1, length(text) - {window} + 1,
                                  {stride})) AS p
    FROM {docs_rel} WHERE length(text) >= {window})
)
SELECT shingle_sha,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occs,
       min(doc_id) AS first_doc
FROM shingles
GROUP BY 1 HAVING count(DISTINCT doc_id) >= {min_docs}"""


def sql_paragraph_dedup_query(
    docs_rel: str = "documents", sep: str = "\n\n", text_expr: str = "text"
) -> str:
    """Oracle: positional split + row_number-per-paragraph window (the
    first-occurrence rule stated directly) + ordered string_agg."""
    sep_sql = sep.replace("\n", "' || chr(10) || '")
    return f"""
WITH paras AS (
  SELECT doc_id, i AS idx, ps[i] AS para
  FROM (SELECT doc_id, string_split({text_expr}, '{sep_sql}') AS ps FROM {docs_rel}),
       LATERAL (SELECT unnest(range(1, len(ps) + 1)) AS i) p
),
flagged AS (
  SELECT doc_id, idx, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
  FROM paras
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN rn = 1 THEN para END, '{sep_sql}' ORDER BY idx), '')
         AS clean_text,
       count(*) AS n_paras,
       count(CASE WHEN rn = 1 THEN 1 END) AS n_kept
FROM flagged GROUP BY doc_id"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
# local document-fingerprinting algorithm)
# ---------------------------------------------------------------------------

#: winnowing defaults: k-gram size (chars) and window (k-grams). The
#: guarantee (Schleimer 2003 §2): any shared substring of length >=
#: w + k - 1 chars contributes at least one common fingerprint, while
#: no fingerprint is denser than one per window — a fixed-density sketch
#: independent of document length.
WINNOW_K = 16
WINNOW_W = 8
#: ubiquity cap: fingerprints present in more docs than this are
#: boilerplate (licence headers, templated chrome), not copy evidence —
#: dropping them bounds the self-join's per-key fan-out (see
#: winnow_pairs).
WINNOW_MAX_DF = 64


def winnow_fingerprints(
    docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """(doc_id, fp) winnowing fingerprints: 31-bit hash per char k-gram,
    then the MINIMUM hash of every w-long window of consecutive k-grams,
    value-deduped per document.

    This is the *value-set* form of Schleimer's robust winnowing: the
    selected set {min(window)} is identical whichever in-window position
    the tie-break picks, so it is engine-order-independent (the
    positional variant depends on rightmost-vs-leftmost tie rules that
    SQL replays can't pin cheaply). Density bound: <= 1 fingerprint per
    window, ~2/(w+1) of k-grams selected in expectation.

    Plan shape: ONE narrow projection per row — sequence -> transform
    (k-gram hash, reused across windows via a materialised array column)
    -> transform(array_min(slice)) -> array_distinct -> explode — all
    codegen'd JVM expressions, zero Python, zero shuffle. O(len * w)
    comparisons per doc. At 100 TB this pipelines with the scan exactly
    like shingle_duplicates; the output is ~len/stride' rows per doc
    with stride' ~ (w+1)/2 chars."""
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    hashed = docs.where(F.length("text") >= k + w - 1).select(
        "doc_id", shingle_hashes(F.col("text"), k).alias("hs")
    )
    starts = F.sequence(F.lit(1), F.size("hs") - w + 1)
    fps = F.array_distinct(
        F.transform(starts, lambda p: F.array_min(F.slice(F.col("hs"), p, w)))
    )
    return hashed.select("doc_id", F.explode(fps).alias("fp"))


def winnow_pairs(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 2,
    max_df: int = WINNOW_MAX_DF,
) -> DataFrame:
    """(doc_a, doc_b, n_shared) document pairs sharing >= ``min_shared``
    winnowing fingerprints — the MOSS copy-detection join.

    Scale shape: fingerprints with document frequency > ``max_df`` are
    removed BEFORE the self-join (one hash-agg on fp), so per-key
    fan-out is <= max_df and the pair volume is bounded by
    n_fps * max_df^2 — never all-pairs. The join key is a 31-bit
    near-uniform hash, so the shuffle has no planned skew; the df cap
    is the guard against pathological boilerplate keys. Same bucket-
    then-join discipline as lsh_candidate_pairs."""
    fps = winnow_fingerprints(docs, k, w)
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("fp")
    )
    shared = fps.join(keep, "fp")
    a = shared.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = shared.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def sql_winnow_fingerprints_cte(
    docs_rel: str = "documents", k: int = WINNOW_K, w: int = WINNOW_W
) -> str:
    """CTE body fps(doc_id, fp) — list-op mirror of the Spark plan:
    same k-gram hash (sql_shingle_hashes), same window-min
    (inclusive-slice list_aggregate), same value-dedup."""
    hs = sql_shingle_hashes("text", k)
    return f"""
SELECT doc_id, unnest(list_distinct(list_transform(
         range(1, len(hs) - {w} + 2),
         p -> list_aggregate(hs[p:p+{w - 1}], 'min')))) AS fp
FROM (SELECT doc_id, {hs} AS hs FROM {docs_rel}
      WHERE length(text) >= {k + w - 1})"""


def sql_winnow_pairs_query(
    docs_rel: str = "documents",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 2,
    max_df: int = WINNOW_MAX_DF,
) -> str:
    """Oracle: same df-window filter, same self-join, same thresholds."""
    return f"""
WITH fps AS ({sql_winnow_fingerprints_cte(docs_rel, k, w)}),
keep AS (SELECT fp FROM fps GROUP BY fp
         HAVING count(*) >= 2 AND count(*) <= {max_df}),
sh AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {min_shared}"""


# ---------------------------------------------------------------------------
# Content-defined chunking (Muthitacharoen, Chen & Mazieres, LBFS,
# SOSP 2001) — variable-length dedup chunks that survive insertions
# ---------------------------------------------------------------------------

#: rolling-window width (chars) for the boundary test
CDC_WINDOW = 8
#: boundary probability 1/CDC_DIVISOR -> expected chunk length ~ divisor
CDC_DIVISOR = 64
_CDC_MASK = 0x7FFFFFFF


def _cdc_starts(t: Column, window: int, divisor: int) -> Column:
    """array<int> of chunk start positions (1-based): position 1 plus
    every i >= 2 where the ``window``-gram starting at i content-hashes
    to 0 mod ``divisor`` — boundaries depend ONLY on local content, the
    property that re-synchronises chunking after an insertion (fixed-
    size blocks lose alignment forever; that is the LBFS argument)."""
    upper = F.length(t) - window + 1
    candidates = F.when(upper >= 2, F.sequence(F.lit(2), upper)).otherwise(
        F.array().cast("array<int>")
    )
    gram_hash = lambda i: (  # noqa: E731 — local expression alias
        F.conv(F.substring(F.sha2(t.substr(i, F.lit(window)), 256), 1, 8), 16, 10)
        .cast("bigint")
        .bitwiseAND(F.lit(_CDC_MASK))
        % divisor
    )
    return F.concat(
        F.array(F.lit(1)), F.filter(candidates, lambda i: gram_hash(i) == 0)
    )


def cdc_chunks(
    docs: DataFrame, window: int = CDC_WINDOW, divisor: int = CDC_DIVISOR
) -> DataFrame:
    """(doc_id, chunk_idx, start_pos, chunk_len, chunk_sha) — content-
    defined chunking of each document (LBFS, SOSP 2001; the scheme
    underneath restic/borg/rsync-style dedup stores): cut points fall
    where a sliding window-gram hashes to 0 mod ``divisor``, so equal
    content yields equal chunks REGARDLESS of its offset in the doc —
    an insertion perturbs only the chunks it touches, and chunking
    re-synchronises at the next content boundary. The reference verifies
    whole files by hash (FV/HashInfo.cs:164-238); CDC is the
    sub-file generalisation: shared chunks across mirrored / lightly-
    edited pages dedup even when whole-doc hashes differ.

    Exactness: the boundary hash is the 31-bit sha256-prefix family the
    CMS/LSH operators use; chunk hashes are uppercase sha256 — every
    value BIGINT/string-exact in both engines.

    Scale shape: per-doc array pipeline (sequence -> filter -> transform,
    all codegen'd, zero shuffle) then ONE explode; no windows, no joins.
    Chunk rows ~ chars/divisor per doc. Degenerate inputs: an empty text
    yields no rows; a doc shorter than ``window`` is one whole-doc
    chunk."""
    t = F.col("text")
    starts = _cdc_starts(t, window, divisor)
    n = F.size(starts)
    chunk = F.transform(
        F.sequence(F.lit(1), n),
        lambda j: F.struct(
            j.cast("bigint").alias("chunk_idx"),
            F.element_at(starts, j).cast("bigint").alias("start_pos"),
            F.when(
                j < n, F.element_at(starts, j + 1) - F.element_at(starts, j)
            )
            .otherwise(F.length(t) - F.element_at(starts, j) + 1)
            .cast("bigint")
            .alias("chunk_len"),
        ),
    )
    ex = (
        docs.where(F.length(t) >= 1)
        .select("doc_id", t.alias("_t"), F.explode(chunk).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.start_pos").alias("start_pos"),
            F.col("c.chunk_len").alias("chunk_len"),
            F.upper(
                F.sha2(
                    F.col("_t").substr(
                        F.col("c.start_pos").cast("int"),
                        F.col("c.chunk_len").cast("int"),
                    ),
                    256,
                )
            ).alias("chunk_sha"),
        )
    )
    return ex


def cdc_shared(
    docs: DataFrame,
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    min_occs: int = 2,
) -> DataFrame:
    """(chunk_sha, chunk_len, n_docs, n_occs, first_doc, saved_chars) —
    the dedup-store view over :func:`cdc_chunks`: chunks stored once
    but occurring ``n_occs`` times save ``(n_occs - 1) * chunk_len``
    chars. ONE hash-groupBy on the uniform 256-bit chunk key (the
    dedup_exact shuffle shape — partial aggregatable, skew-free)."""
    return (
        cdc_chunks(docs, window, divisor)
        .groupBy("chunk_sha")
        .agg(
            F.min("chunk_len").alias("chunk_len"),
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_occs") >= min_occs)
        .select(
            "chunk_sha",
            "chunk_len",
            "n_docs",
            "n_occs",
            "first_doc",
            ((F.col("n_occs") - 1) * F.col("chunk_len")).alias("saved_chars"),
        )
    )


def sql_cdc_chunks_cte(
    docs_rel: str = "documents",
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
) -> str:
    """Oracle CTE body producing the cdc_chunks relation (same boundary
    hash, same start/len arithmetic; DuckDB range() is end-exclusive
    where Spark sequence is inclusive — hence the +2)."""
    gram = (
        f"((CAST(('0x' || substr(sha256(substr(text, CAST(i AS BIGINT), "
        f"{window})), 1, 8)) AS BIGINT) & {_CDC_MASK}) % {divisor}) = 0"
    )
    return f"""
cdc_base AS (
  SELECT doc_id, text,
         [1::BIGINT] || list_filter(
           range(2, greatest(length(text) - {window} + 2, 2)),
           i -> {gram}) AS starts
  FROM {docs_rel} WHERE length(text) >= 1),
cdc_chunks AS (
  SELECT doc_id,
         CAST(j AS BIGINT) AS chunk_idx,
         CAST(starts[j] AS BIGINT) AS start_pos,
         CAST(CASE WHEN j < len(starts) THEN starts[j + 1] - starts[j]
                   ELSE length(text) - starts[j] + 1 END AS BIGINT)
           AS chunk_len,
         upper(sha256(substr(text, starts[j],
           CASE WHEN j < len(starts) THEN starts[j + 1] - starts[j]
                ELSE length(text) - starts[j] + 1 END))) AS chunk_sha
  FROM cdc_base,
       LATERAL (SELECT unnest(range(1, len(starts) + 1)) AS j) p)"""


def sql_cdc_shared_query(
    docs_rel: str = "documents",
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    min_occs: int = 2,
) -> str:
    """Oracle for :func:`cdc_shared`."""
    return f"""
WITH {sql_cdc_chunks_cte(docs_rel, window, divisor)}
SELECT chunk_sha,
       min(chunk_len) AS chunk_len,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occs,
       min(doc_id) AS first_doc,
       CAST((count(*) - 1) * min(chunk_len) AS BIGINT) AS saved_chars
FROM cdc_chunks
GROUP BY 1 HAVING count(*) >= {min_occs}"""
