"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

Capability extension beyond the reference (whose only dedup is the implicit
DISTINCT of its Project operator, ra2spark/ra2spark.py:89-93). These are the
dedup families a training-data pipeline needs:

* exact dedup          — hash-groupBy on content (or md5 of content)
* MinHash + LSH        — shingle → minhash signature → band → bucket-join,
                         then exact-Jaccard verification of candidates
* SimHash              — shingle bit votes → 48-bit fingerprint →
                         Hamming-distance pairs
* n-gram Jaccard       — exact pairwise Jaccard via shingle inverted index
* embedding cosine     — near-dup pairs over the embedding column

Scale design (the 100 TB story):

* Shingle hashing happens exactly once per (doc, shingle). MinHash
  signatures are MAP-ONLY ``array_min`` expressions over the doc's
  in-row hash set, built in one place (:func:`minhash_bands`) for batch,
  incremental and streaming callers alike; the md5 runs in its own
  projection so Catalyst cannot inline it into the 16 permutations (the
  first cut did, 16× the hashing work). SimHash signatures are 48
  ``sum()`` aggregates over the exploded (doc, shingle-hash) table — one
  map-side-combinable shuffle keyed by doc_id, no per-bit row explosion.
* The n-gram inverted index is the classic frequency-bounded join: a
  stop-shingle appearing in f docs contributes f² pairs. Shingles are word
  5-grams (hashing.SHINGLE_N) — measured: same near-dups as trigrams with
  ~775× fewer candidate pairs. At 100 TB, additionally cap document
  frequency before the self-join.
* All hashing is md5-based modular arithmetic (functions/hashing.py) so the
  DuckDB oracle reproduces every value exactly — no Spark-private hashes.
"""

from __future__ import annotations

from .partitioning import configure_checkpoint_dir
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.iterate import iterate, release, truncate
from .hashing import (
    MERSENNE_P,
    MINHASH_PERMS,
    duck_hex48,
    duck_shingles,
    duck_tokens,
    spark_hex48,
    spark_shingles,
    spark_tokens,
)
from .similarity import _DUCK_NORM2, _bucket_expr, _cosine, _duck_dot, _spark_norm2

__all__ = [
    "exact_dedup",
    "shingled_docs",
    "exploded_shingle_hashes",
    "minhash_bands",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_oracle",
    "probe_band_index",
    "incremental_neardup",
    "incremental_neardup_oracle",
    "simhash_fingerprints",
    "simhash_fingerprints_oracle",
    "simhash_pairs",
    "simhash_pairs_oracle",
    "simhash_lsh_pairs",
    "simhash_lsh_pairs_oracle",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_oracle",
    "ngram_containment_pairs",
    "ngram_containment_pairs_oracle",
    "substring_span_pairs",
    "embedding_neardup_pairs",
    "embedding_neardup_pairs_oracle",
    "banding_for_threshold",
    "banding_recall",
    "clusters_cte_oracle",
]

N_BANDS = 4
ROWS_PER_BAND = 4  # N_BANDS * ROWS_PER_BAND == len(MINHASH_PERMS)
SIMHASH_BITS = 48


def banding_for_threshold(threshold: float, n_perms: int = 16) -> tuple[int, int]:
    """Choose LSH banding (n_bands, rows_per_band) for a Jaccard threshold.

    Standard S-curve sizing (Leskovec/Rajaraman/Ullman, *Mining of Massive
    Datasets* §3.4.3): a (b bands × r rows) scheme catches a pair with
    similarity j with probability 1 − (1 − jʳ)ᵇ, whose inflection sits at
    t ≈ (1/b)^(1/r). Among the factorizations b·r = n_perms, pick the one
    whose t is log-closest to the requested threshold, breaking ties toward
    smaller t (more bands ⇒ higher recall at the threshold; the exact
    Jaccard verification step removes the extra false positives anyway).

    The module defaults (4×4 for 16 perms, t ≈ 0.707) stay the gate
    configuration; this helper is the 100 TB tuning knob and is exercised
    by the scale rehearsal (tools/scale_rehearsal.py) and its property
    test (planted-pair recall at the chosen banding).
    """
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    options = [
        (b, n_perms // b) for b in range(1, n_perms + 1) if n_perms % b == 0
    ]
    def keyfn(br):
        b, r = br
        t = (1.0 / b) ** (1.0 / r)
        # tie-break toward smaller t == larger b (recall-favoring)
        return (abs(math.log(t) - math.log(threshold)), -b)

    return min(options, key=keyfn)


def banding_recall(threshold_j: float, n_bands: int, rows_per_band: int) -> float:
    """P(candidate) for a pair at Jaccard ``threshold_j`` under (b, r)."""
    return 1.0 - (1.0 - threshold_j**rows_per_band) ** n_bands


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, key: str = "text") -> DataFrame:
    """Exact dedup: one canonical row (min doc_id) per distinct content.

    A single hash-aggregate shuffle on the content key; at 100 TB prefer
    grouping on ``md5(text)`` (fixed 32-byte shuffle key) over raw text —
    see the `dedup_exact_hash` query.
    """
    return docs.groupBy(key).agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies")
    )


# --------------------------------------------------------------------------
# shared shingling
# --------------------------------------------------------------------------

def shingled_docs(docs: DataFrame) -> DataFrame:
    """doc_id + distinct word-5-gram shingle array (docs with ≥1 shingle).

    The input is repartitioned to the session's parallelism first: shingle
    construction is interpreted higher-order-function work (~ms/doc, not
    whole-stage-codegen), and a small/compact parquet arrives as ONE
    partition — without the repartition the entire corpus shingles on a
    single core and every downstream stage inherits that. One tiny shuffle
    of raw text buys full-width parallelism for the whole dedup pipeline.
    """
    from .hashing import SHINGLE_N

    par = docs.sparkSession.sparkContext.defaultParallelism
    # Tokenize in its OWN projection: the shingle expression references the
    # token array once per n-gram element, and inlining the tokenizer
    # (regexp_extract_all) there would re-run the regex per element access
    # — measured ~80× slower. Two projections keep it evaluated once/row.
    #
    # The empty-shingle filter runs on token COUNT before shingling
    # (equivalent: the shingle array is empty iff tokens < SHINGLE_N).
    # Filtering on size(sh) after the projection would make Catalyst
    # substitute the whole shingle expression into the pushed-down
    # predicate and re-evaluate it per row in the interpreted path —
    # measured 40× slower than this form.
    toks = (
        docs.repartition(par)
        .select("doc_id", F.expr(spark_tokens("text")).alias("toks"))
        .filter(F.expr(f"size(toks) >= {SHINGLE_N}"))
    )
    return toks.select("doc_id", F.expr(spark_shingles("toks")).alias("sh"))


def exploded_shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, h, x) — one row per distinct shingle, hashed exactly once.

    Shared base table for MinHash and SimHash signatures: signature
    computation is then a plain aggregate over it. ``h`` is the raw
    48-bit md5 hash — SimHash bit votes consume it at full width;
    ``x = h % MERSENNE_P`` (< 2^33) is the MinHash permutation input,
    kept narrow so ``(a*x + b)`` never overflows int64. (Feeding ``x``
    to the votes too was a round-1 defect: bits 33–47 of the fingerprint
    were constant 0, throwing away a third of the Hamming signal.)
    """
    return (
        shingled_docs(docs)
        .select("doc_id", F.explode("sh").alias("s"))
        .select("doc_id", F.expr(spark_hex48("s")).alias("h"))
        .select("doc_id", "h", F.expr(f"h % {MERSENNE_P}").alias("x"))
    )


_DUCK_SHINGLED = f"""
    __toks AS (
        SELECT doc_id, {duck_tokens('text')} AS t FROM documents
    ),
    __sh AS (
        SELECT doc_id, {duck_shingles('t')} AS sh FROM __toks
    ),
    shingled AS (
        SELECT doc_id, sh FROM __sh WHERE len(sh) > 0
    ),
    ex_hash AS (
        SELECT doc_id, h, h % {MERSENNE_P} AS x
        FROM (SELECT doc_id, {duck_hex48('s')} AS h
              FROM (SELECT doc_id, unnest(sh) AS s FROM shingled))
    )
"""


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id + 16 minhash columns mh0..mh15 as explode + groupBy(doc_id)
    ``min()`` aggregates.

    Not a production path: it is the independent reference the tests
    compare :func:`minhash_bands` against (same ``(a*x + b) % P``
    arithmetic, a different algorithm), and the shape the DuckDB oracles
    restate.
    """
    aggs = [
        F.min(F.expr(f"({a} * x + {b}) % {MERSENNE_P}")).alias(f"mh{k}")
        for k, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return exploded_shingle_hashes(docs).groupBy("doc_id").agg(*aggs)


def minhash_bands(
    docs: DataFrame, banding: tuple[int, int] | None = None
) -> DataFrame:
    """(doc_id, sh, bsigs, band, bsig) — the one MinHash band table.

    Every LSH caller builds its bands here: :func:`minhash_lsh_pairs`
    joins the table with itself, :func:`probe_band_index` joins a new
    batch's table with a known corpus's (stored or fresh), and the scale
    rehearsal counts its (band, bsig) buckets. Default banding is 4 bands
    of 4 rows; pass ``banding=banding_for_threshold(t)`` to size the
    S-curve to the target threshold.

    Every operator is STATELESS (per-row expressions plus one posexplode),
    so the table builds unchanged on a Structured Streaming DataFrame.
    ``sh`` is the doc's distinct 48-bit shingle-hash set, carried for the
    exact-Jaccard verify; ``bsigs`` holds all band signatures so a join
    consumer can keep each pair at its first matching band with a per-row
    predicate instead of a stateful DISTINCT.
    """
    n_bands, rows_per_band = banding if banding is not None else (
        N_BANDS, ROWS_PER_BAND,
    )
    if n_bands * rows_per_band != len(MINHASH_PERMS):
        raise ValueError(
            f"banding {n_bands}x{rows_per_band} != {len(MINHASH_PERMS)} perms"
        )
    # Hash shingles to 48-bit ints up front: every downstream shuffle
    # carries 8-byte bigints instead of raw n-gram strings — measured ~4×
    # spill cut, the difference between the 10M rehearsal fitting this
    # container's disk and ENOSPC mid-pipeline, and the production answer
    # at 100 TB (never shuffle raw text twice).
    # Verification Jaccard runs over the distinct HASH sets: identical
    # md5-48 arithmetic on both engines, so the oracle stays value-exact;
    # the deviation from string-set Jaccard is a same-doc 48-bit
    # collision (~n²/2^49 per doc — negligible, and deterministic).
    sh = shingled_docs(docs).select(
        "doc_id",
        F.expr(
            f"array_distinct(transform(sh, s -> {spark_hex48('s')}))"
        ).alias("sh"),
    )
    # MinHash signatures as MAP-ONLY array_min(transform(...)) over the
    # in-row hash set — same (a*x+b) % P arithmetic per element, same
    # min, so values are identical to the explode + groupBy(doc_id)
    # aggregation of minhash_signatures, but with NO doc_id exchange and
    # no 200×-row explode (guide §2.4: remove shuffles outright; measured
    # 0.62 → 0.29 s for the signature subtree at sf0.1). The xs
    # projection is separate so the h % P pass evaluates once, not once
    # per permutation.
    xs = sh.select(
        "doc_id", "sh",
        F.expr(f"transform(sh, h -> h % {MERSENNE_P})").alias("xs"),
    )
    mh = [
        f"array_min(transform(xs, x -> ({a} * x + {b}) % {MERSENNE_P}))"
        for (a, b) in MINHASH_PERMS
    ]
    bsigs = ", ".join(
        "concat_ws('-', "
        + ", ".join(mh[j * rows_per_band : (j + 1) * rows_per_band])
        + ")"
        for j in range(n_bands)
    )
    return xs.select(
        "doc_id", "sh", F.expr(f"array({bsigs})").alias("bsigs")
    ).select("doc_id", "sh", "bsigs", F.posexplode("bsigs").alias("band", "bsig"))


def _verified_band_pairs(
    a: DataFrame,
    b: DataFrame,
    threshold: float,
    names: tuple[str, str],
    self_join: bool = False,
) -> DataFrame:
    """(names[0], names[1], jaccard) for docs of band tables ``a`` and
    ``b`` that share a (band, bsig) bucket and verify at exact Jaccard
    ≥ ``threshold``.

    The band join is the only all-data shuffle; its key cardinality is
    huge (band signatures), so it partitions evenly, and the quadratic
    blow-up is confined to same-signature buckets (true near-dups, plus
    ~J⁴-rate false positives that verification removes). The band rows
    CARRY the doc's shingle-hash set, so the verify runs directly on the
    join's output, with no verify joins back to the corpus. A pair
    colliding in k > 1 bands is kept only at its FIRST matching band
    (``array_position`` over the zipped signature arrays): a per-row
    predicate, so no DISTINCT and no state, and the probe runs on a
    stream. ``self_join`` keeps only ``a.doc_id < b.doc_id``.
    """
    joined = a.alias("a").join(b.alias("b"), ["band", "bsig"]).filter(
        F.expr("array_position(zip_with(a.bsigs, b.bsigs, (x, y) -> x = y), true)")
        == F.col("band") + 1
    )
    if self_join:
        joined = joined.filter(F.col("a.doc_id") < F.col("b.doc_id"))
    return (
        joined.select(
            F.col("a.doc_id").alias(names[0]),
            F.col("b.doc_id").alias(names[1]),
            F.expr(
                "cast(size(array_intersect(a.sh, b.sh)) as double)"
                " / (size(a.sh) + size(b.sh) - size(array_intersect(a.sh, b.sh)))"
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(*names, F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    banding: tuple[int, int] | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash signatures + LSH banding + exact verify.

    Pipeline: the band table (:func:`minhash_bands`: shingle → 48-bit
    shingle hash once → 16 map-only array_min minhashes → bands) joined
    with itself on (band, band-signature) → exact Jaccard verified on the
    colliding band rows, each pair once at its first matching band.

    Scale note: the band shuffle ships each doc's hash set n_bands×, a
    deliberate trade for no verify joins; the sets are the narrow 8-byte
    hashes (never raw text), so the multiplier is bounded and the
    pair-verify never re-reads the corpus.
    """
    bands = minhash_bands(docs, banding)
    return _verified_band_pairs(
        bands, bands, threshold, ("doc_a", "doc_b"), self_join=True
    )


def minhash_lsh_pairs_oracle(threshold: float = 0.5) -> str:
    """DuckDB twin of :func:`minhash_lsh_pairs` — identical constants."""
    mh_cols = ", ".join(
        f"min(({a} * x + {b}) % {MERSENNE_P}) AS mh{k}"
        for k, (a, b) in enumerate(MINHASH_PERMS)
    )
    band_selects = []
    for j in range(N_BANDS):
        ms = [f"mh{j * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        concat = " || '-' || ".join(f"cast({m} as varchar)" for m in ms)
        band_selects.append(f"SELECT doc_id, {j} AS band, {concat} AS bsig FROM sigs")
    bands_sql = " UNION ALL ".join(band_selects)
    return f"""
WITH {_DUCK_SHINGLED},
sh_hashed AS (
    SELECT doc_id,
           list_distinct(list_transform(sh, s -> {duck_hex48('s')})) AS sh
    FROM shingled
),
sigs AS (SELECT doc_id, {mh_cols} FROM ex_hash GROUP BY doc_id),
bands AS ({bands_sql}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b USING (band, bsig)
    WHERE a.doc_id < b.doc_id
),
ver AS (
    SELECT doc_a, doc_b,
           cast(len(list_intersect(da.sh, db.sh)) as double)
             / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))) AS jaccard
    FROM cand
    JOIN sh_hashed da ON da.doc_id = cand.doc_a
    JOIN sh_hashed db ON db.doc_id = cand.doc_b
)
SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM ver WHERE jaccard >= {threshold}
"""


# --------------------------------------------------------------------------
# exact n-gram Jaccard (inverted-index join)
# --------------------------------------------------------------------------

NGRAM_DF_CAP = 100  # shingles in more docs than this are stop-shingles


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, df_cap: int = NGRAM_DF_CAP
) -> DataFrame:
    """Exact pairwise word-5-gram Jaccard via an inverted shingle index.

    explode → postings list per shingle → in-row pair expansion →
    per-pair intersection counts → Jaccard. Stop-shingles — document
    frequency above ``df_cap`` — are dropped BEFORE pair expansion: a
    shingle in f docs contributes O(f²) candidate pairs and near-zero
    Jaccard evidence, so one hot shingle would otherwise dominate the
    expansion at scale. Jaccard is then defined over the capped shingle
    universe, identically in the oracle (same constant in both
    dialects).

    r16 shape: the per-shingle postings list (sorted collect_list over
    the one shingle-keyed exchange) replaces the former
    window-df + self-join formulation — the df filter is size(ids), the
    candidate pairs come from an in-row positional expansion of the
    sorted list (doc_a <= doc_b by construction, equal only for a
    duplicated doc_id, and those self-pairs are filtered out; no join,
    no broadcast build, no double window evaluation), and per-doc sizes
    re-derive by exploding the capped lists. Measured 1.35 → 1.05 s at
    sf0.1 with identical rows; at scale the df_cap bounds every list at
    ``df_cap`` elements, so collect_list is per-key bounded the same way
    the joins' bucket blow-up was.
    """
    sh = shingled_docs(docs)
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    # Explicit shingle-keyed repartition: pins the parallelism of the
    # postings build + pair expansion — their cost is per-ROW
    # interpreted compute, which AQE's byte-based coalescing (advisory
    # 16m, session.py) cannot see and would serialize onto 1-2
    # partitions (measured +0.5 s at sf0.1).
    ex = ex.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "s"
    )
    ids = (
        ex.groupBy("s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= df_cap)
    )
    inter = (
        ids.filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(x as doc_a, y as doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        # a doc_id present twice in the corpus sits twice in the sorted
        # list and expands to doc_a == doc_b self-pairs; the self-join
        # this replaced kept only a.doc_id < b.doc_id
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    # Per-doc shingle counts over the SAME capped universe: each capped
    # postings list contains a doc at most once (shingle arrays are
    # distinct per doc), so exploding the lists reproduces exactly the
    # rows the old window-filtered table kept.
    sizes = (
        ids.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("cast(i as double) / (na + nb - i)").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs_oracle(
    threshold: float = 0.5, df_cap: int = NGRAM_DF_CAP
) -> str:
    return f"""
WITH {_DUCK_SHINGLED},
ex AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
kept AS (
    SELECT doc_id, s FROM (
        SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM ex
    ) WHERE df <= {df_cap}
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(cast(i as double) / (la.n + lb.n - i), 6) AS jaccard
FROM inter
JOIN sizes la ON la.doc_id = doc_a
JOIN sizes lb ON lb.doc_id = doc_b
WHERE cast(i as double) / (la.n + lb.n - i) >= {threshold}
"""


def ngram_containment_pairs(
    docs: DataFrame, threshold: float = 0.5, df_cap: int = NGRAM_DF_CAP
) -> DataFrame:
    """Directed shingle CONTAINMENT |A∩B| / |A| — the asymmetric near-dup
    measure Jaccard misses: a short doc quoted wholesale inside a long one
    scores containment ≈ 1 while its Jaccard stays tiny (union is
    long-doc-sized). This is the boilerplate / quote / doc-inside-doc
    detector.

    Same inverted-index candidate generation as :func:`ngram_jaccard_pairs`
    (one shingle-keyed shuffle, df-capped so no hot shingle goes O(f²));
    each undirected candidate pair then emits up to two directed rows
    (sub ⊂ super). Work is identical to the Jaccard pass — only the final
    per-pair arithmetic differs.
    """
    from pyspark.sql import Window

    sh = shingled_docs(docs)
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    # Explicit shingle-keyed repartition: the window AND the self-join
    # both reuse this one exchange, and the explicit partition count
    # pins the parallelism of the candidate-pair expansion — its cost is
    # per-ROW interpreted compute, which AQE's byte-based coalescing
    # (advisory 16m, session.py) cannot see and would serialize onto 1-2
    # partitions (measured +0.5 s at sf0.1).
    ex = ex.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "s"
    )
    kept = (
        ex.withColumn("df", F.count("*").over(Window.partitionBy("s")))
        .filter(F.col("df") <= df_cap)
        .drop("df")
    )
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(b, "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    paired = inter.join(
        sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}), "doc_a"
    ).join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}), "doc_b")
    # two directed views of the same joined frame; Catalyst reuses the
    # exchange under both union branches
    ab = paired.select(
        F.col("doc_a").alias("doc_sub"),
        F.col("doc_b").alias("doc_super"),
        F.expr("cast(i as double) / na").alias("containment"),
    )
    ba = paired.select(
        F.col("doc_b").alias("doc_sub"),
        F.col("doc_a").alias("doc_super"),
        F.expr("cast(i as double) / nb").alias("containment"),
    )
    return (
        ab.unionByName(ba)
        .filter(F.col("containment") >= threshold)
        .select("doc_sub", "doc_super", F.round("containment", 6).alias("containment"))
    )


def ngram_containment_pairs_oracle(
    threshold: float = 0.5, df_cap: int = NGRAM_DF_CAP
) -> str:
    return f"""
WITH {_DUCK_SHINGLED},
ex AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
kept AS (
    SELECT doc_id, s FROM (
        SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM ex
    ) WHERE df <= {df_cap}
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
paired AS (
    SELECT doc_a, doc_b, i, la.n AS na, lb.n AS nb
    FROM inter
    JOIN sizes la ON la.doc_id = doc_a
    JOIN sizes lb ON lb.doc_id = doc_b
),
directed AS (
    SELECT doc_a AS doc_sub, doc_b AS doc_super,
           cast(i as double) / na AS containment FROM paired
    UNION ALL
    SELECT doc_b AS doc_sub, doc_a AS doc_super,
           cast(i as double) / nb AS containment FROM paired
)
SELECT doc_sub, doc_super, round(containment, 6) AS containment
FROM directed WHERE containment >= {threshold}
"""


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def substring_span_pairs(
    docs: DataFrame,
    n: int = 8,
    min_span: int = 12,
    df_cap: int = 100,
) -> DataFrame:
    """Exact cross-doc duplicated token runs ≥ ``min_span`` tokens (Lee et
    al. 2022 substring dedup, re-expressed relationally).

    Plan shape (scale path, no all-pairs anywhere):

    1. positioned ``n``-gram explode — one codegen projection per doc;
    2. document-frequency cap on the gram hash (boilerplate guard: a
       gram present in > ``df_cap`` docs is dropped before the join);
    3. inverted-index self-join on the 48-bit gram hash (narrow shuffle
       keys; the gram STRING is verified post-join so a hash collision
       can never fabricate a pair);
    4. gaps-and-islands per (doc_a, doc_b, diagonal): consecutive
       matching positions collapse into islands; island length + n − 1
       is the shared span in tokens. The row_number window partitions on
       high-cardinality (pair, diag) keys — never a global window.

    Returns (doc_a, doc_b, max_span_tokens, n_spans), doc_a < doc_b.
    """
    from pyspark.sql import Window

    par = docs.sparkSession.sparkContext.defaultParallelism
    posg = (
        f"transform(sequence(1, size(w) - {n - 1}), "
        f"i -> array_join(slice(w, i, {n}), ' '))"
    )
    grams = (
        docs.repartition(par)
        .select("doc_id", F.expr(spark_tokens("text")).alias("w"))
        .filter(F.expr(f"size(w) >= {n}"))
        .select("doc_id", F.posexplode(F.expr(posg)).alias("pos0", "g"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.expr(spark_hex48("g")).alias("h"),
            "g",
        )
    )
    keep = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("h")
    )
    # Both join sides below are corpus-sized. Catalyst's size estimate
    # descends from the leaf (a spark.range-built corpus estimates tiny),
    # so without a hint it BROADCASTS the aggregated side — proven fatal
    # at the 1M-doc rehearsal (OOM building a ~100M-row broadcast), and a
    # shuffle-hash hint just moves the OOM into the per-partition build
    # maps (32 concurrent ~3M-row maps in one local JVM). Sort-merge is
    # the honest strategy for corpus × corpus at any scale: both sides
    # spill, no in-memory build side. EXPECTED SMJ in plan_audit.
    kept = grams.join(keep.hint("merge"), "h")
    a = kept.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"),
        F.col("h"), F.col("g").alias("g_a"),
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"),
        F.col("h"), F.col("g").alias("g_b"),
    )
    hits = (
        a.join(b.hint("merge"), "h")
        .filter(
            (F.col("doc_a") < F.col("doc_b")) & (F.col("g_a") == F.col("g_b"))
        )
        .select(
            "doc_a", "doc_b", "pos_a",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = hits.withColumn("island", F.col("pos_a") - F.row_number().over(w))
    spans = runs.groupBy("doc_a", "doc_b", "diag", "island").agg(
        (F.count("*") + F.lit(n - 1)).alias("span_tokens")
    )
    return (
        spans.filter(F.col("span_tokens") >= min_span)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("span_tokens").cast("bigint").alias("max_span_tokens"),
            F.count("*").cast("bigint").alias("n_spans"),
        )
    )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """48-bit SimHash per document over word-5-gram shingle features.

    Classic SimHash re-expressed as ONE aggregate pass: 48 ``sum()``
    columns (±1 vote per bit, derived from the shingle hash by integer
    div/mod) then the fingerprint recomposed from the vote signs. A single
    map-side-combinable shuffle keyed by doc_id — no per-bit row
    explosion, skew-free at any scale.

    Features are shingles, not unigrams: unigram vocabularies overlap too
    heavily between unrelated documents (verified on the test corpus —
    unigram SimHash collapses to hamming≈0 everywhere), while shingle sets
    keep unrelated pairs near the binomial(48, ½) midpoint.
    """
    ex = exploded_shingle_hashes(docs)
    votes = ex.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"((h DIV {1 << j}) % 2) * 2 - 1")).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fp_expr = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j}L ELSE 0L END)" for j in range(SIMHASH_BITS)
    )
    return votes.select("doc_id", F.expr(fp_expr).alias("simhash"))


def _duck_simhash_cte() -> str:
    vote_cols = ", ".join(
        f"sum(((h // {1 << j}) % 2) * 2 - 1) AS v{j}" for j in range(SIMHASH_BITS)
    )
    fp_expr = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN cast({1 << j} as bigint) ELSE cast(0 as bigint) END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""{_DUCK_SHINGLED},
votes AS (SELECT doc_id, {vote_cols} FROM ex_hash GROUP BY doc_id),
fp AS (SELECT doc_id, {fp_expr} AS simhash FROM votes)
"""


def simhash_fingerprints_oracle() -> str:
    return f"WITH {_duck_simhash_cte()} SELECT doc_id, simhash FROM fp"


def simhash_pairs(docs: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs: Hamming distance between SimHash fingerprints.

    All-pairs here (small corpus); at scale, LSH over fingerprint chunks
    (split the 48 bits into bands, bucket-join on band equality — Hamming-
    close pairs must collide on ≥1 band) replaces the quadratic join.
    """
    fp = simhash_fingerprints(docs)
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_oracle(max_hamming: int = 8) -> str:
    return f"""
WITH {_duck_simhash_cte()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


SIMHASH_BAND_BITS = 12
SIMHASH_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS  # 4 bands × 12 bits


def simhash_lsh_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs via banded SimHash LSH — the scale path.

    The 48-bit fingerprint splits into 4 disjoint 12-bit bands. Two
    fingerprints with Hamming distance ≤ 3 differ in at most 3 bits, so
    by pigeonhole at least one band is bit-identical — the band-value
    equi-join finds EVERY such pair (recall 1.0 at the default
    threshold), and exact ``bit_count`` verification on the candidates
    removes every false positive. Result set is identical to the
    all-pairs :func:`simhash_pairs` at the same threshold; the quadratic
    work is confined to same-bucket candidates (at 100 TB: one shuffle
    keyed by (band, value), candidate count bounded by bucket
    occupancy — no N² join anywhere).
    """
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError(
            f"banding guarantees recall only for hamming < {SIMHASH_BANDS}"
        )
    fp = simhash_fingerprints(docs)
    band_arr = F.array(
        *[
            F.expr(
                f"(simhash DIV {1 << (SIMHASH_BAND_BITS * b)}) % {1 << SIMHASH_BAND_BITS}"
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    bands = fp.select("doc_id", "simhash", F.posexplode(band_arr).alias("b", "v"))
    a, bb = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("fa"),
            F.col("b.simhash").alias("fb"),
        )
        .distinct()  # a pair may collide in several bands
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_lsh_pairs_oracle(max_hamming: int = 3) -> str:
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS b, "
        f"(simhash // {1 << (SIMHASH_BAND_BITS * b)}) % {1 << SIMHASH_BAND_BITS} AS v FROM fp"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
WITH {_duck_simhash_cte()},
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         a.simhash AS fa, b2.simhash AS fb
  FROM bands a JOIN bands b2
    ON a.b = b2.b AND a.v = b2.v AND a.doc_id < b2.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(fa, fb)) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= {max_hamming}
"""


# --------------------------------------------------------------------------
# incremental dedup (new batch vs known corpus, batch or streaming)
# --------------------------------------------------------------------------

def probe_band_index(
    new_docs: DataFrame, index: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Near-dup matches of ``new_docs`` against a band index — the
    :func:`minhash_bands` table of a known corpus, fresh or stored.

    The production ingest loop computes the index ONCE per corpus
    snapshot and persists it (parquet partitioned by band, or just
    cached); every arriving batch then probes the stored index instead of
    re-shingling the known side per micro-batch:

        idx = spark.read.parquet(index_path)       # or minhash_bands(known)
        pairs = probe_band_index(new_batch, idx)

    Per-batch cost is only the arriving documents' expressions + one
    equi-join against the index. Every operator on the new side is
    stateless, so ``new_docs`` may be a STREAMING DataFrame (a
    stream-static join). Returns (new_doc, known_doc, jaccard).
    """
    return _verified_band_pairs(
        minhash_bands(new_docs), index, threshold, ("new_doc", "known_doc")
    )


def incremental_neardup(
    new_docs: DataFrame, known_docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Near-dup matches of a NEW batch against a KNOWN corpus.

    The known corpus's band table is the index each arriving batch probes
    (:func:`probe_band_index`): candidate generation is a band-signature
    equi-join of new×known only (never known×known), so ingest cost
    scales with the batch, not the corpus. Verification = exact Jaccard
    on candidates. Runs on a streaming ``new_docs`` too.

    Returns (new_doc, known_doc, jaccard) pairs ≥ threshold.
    """
    return probe_band_index(new_docs, minhash_bands(known_docs), threshold)


def incremental_neardup_oracle(
    new_filter: str, known_filter: str, threshold: float = 0.5
) -> str:
    """DuckDB twin: the same split probed with the same constants."""
    mh_cols = ", ".join(
        f"min(({a} * x + {b}) % {MERSENNE_P}) AS mh{k}"
        for k, (a, b) in enumerate(MINHASH_PERMS)
    )
    band_selects = []
    for j in range(N_BANDS):
        ms = [f"mh{j * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        concat = " || '-' || ".join(f"cast({m} as varchar)" for m in ms)
        band_selects.append(f"SELECT doc_id, {j} AS band, {concat} AS bsig FROM sigs")
    bands_sql = " UNION ALL ".join(band_selects)
    return f"""
WITH {_DUCK_SHINGLED},
sh_hashed AS (
    SELECT doc_id,
           list_distinct(list_transform(sh, s -> {duck_hex48('s')})) AS sh
    FROM shingled
),
sigs AS (SELECT doc_id, {mh_cols} FROM ex_hash GROUP BY doc_id),
bands AS ({bands_sql}),
cand AS (
    SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS known_doc
    FROM bands a JOIN bands b USING (band, bsig)
    WHERE a.doc_id {new_filter} AND b.doc_id {known_filter}
)
SELECT new_doc, known_doc,
       round(cast(len(list_intersect(da.sh, db.sh)) as double)
             / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 6)
           AS jaccard
FROM cand
JOIN sh_hashed da ON da.doc_id = cand.new_doc
JOIN sh_hashed db ON db.doc_id = cand.known_doc
WHERE cast(len(list_intersect(da.sh, db.sh)) as double)
      / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))
      >= {threshold}
"""


# --------------------------------------------------------------------------
# near-dup clustering (connected components)
# --------------------------------------------------------------------------

def _driver_union_find(spark, edges: DataFrame) -> DataFrame:
    """Min-label components of a DRIVER-SIZED edge list via union-find.

    Union-by-min-root: each tree's root is the minimum doc_id of its
    merged set (induction: merging two trees keeps the smaller root), so
    find(v) after all unions is exactly the min-label fixpoint the
    distributed propagation converges to.
    """
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    # one Arrow transfer of the deduplicated half (src<dst) — a single
    # job, like a broadcast-join build pulling the small side
    pdf = edges.filter(F.col("src") < F.col("dst")).toPandas()
    for a, b in zip(pdf["src"].astype("int64"), pdf["dst"].astype("int64")):
        a, b = int(a), int(b)
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    out = pd.DataFrame(
        {
            "doc_id": pd.Series(list(parent), dtype="int64"),
            "cluster_id": pd.Series([find(n) for n in parent], dtype="int64"),
        }
    )
    return spark.createDataFrame(out, "doc_id bigint, cluster_id bigint")


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
    check_every: int = 1,
    driver_threshold: int = 5_000_000,
) -> DataFrame:
    """Canonicalize near-dup PAIRS into CLUSTERS: (doc_id, cluster_id)
    where cluster_id = min doc_id of the connected component.

    This is the dedup endgame — pair lists don't dedup a corpus, a
    doc→canonical map does. Connected components by iterative min-label
    propagation, all DataFrame ops:

        labels ← doc_id
        repeat: label(v) ← min(label(v), min over neighbors' labels)

    Convergence in O(diameter) rounds (near-dup clusters are tiny — a
    handful of rounds). Each round is one join + one aggregate, both keyed
    on doc ids (shuffle-friendly at any scale), run by the fixpoint loop
    of ``operators/iterate.py``: every round is materialized with its
    lineage truncated (GraphFrames does the same under the hood), and
    the round it replaced is released, so only the final labels stay.

    Fault tolerance: the edge list and every round are truncated by
    ``localCheckpoint`` by default, whose blocks die with their executor,
    so a lost executor kills a long job. On a real cluster pass
    ``checkpoint_dir`` (an HDFS/S3 path): the edges and the rounds are
    then reliable ``checkpoint()`` files, and recovery reads the
    checkpoint store instead. The edge blocks are released once the
    labels no longer need them: after the driver union-find collects
    them, or after the last propagation round.

    Documents in no pair stay singleton clusters of themselves.

    Pass a ``stats`` dict to receive ``{"rounds": n}`` — the number of
    propagation rounds actually executed (the scale rehearsal asserts this
    stays at the tiny near-dup-cluster diameter, not the corpus size).

    ``check_every``: the convergence probe (`count()` of changed labels)
    is a driver action — one full job per round at 100 TB. Near-dup
    cluster diameters are known-tiny, so probing every round buys little:
    ``check_every=2`` halves the probe jobs at the cost of at most one
    extra (empty-frontier, cheap) propagation round past the fixpoint.
    Default 1 = probe every round, the exact prior behavior.

    ``driver_threshold``: hybrid execution. The edge list is the LSH+
    verify SURVIVOR set — orders of magnitude smaller than the corpus
    (rehearsal: ~0.27 pairs/doc at 100k and 1M docs). When it has at most
    this many rows (counted off the already-materialized checkpoint, one
    cheap job), the component labels come from a driver-side union-find —
    O(E α(E)) in one pass, no per-round shuffles — exactly like a
    broadcast-join build collecting the small side. Larger edge lists
    (≈>10⁷ pairs; a 10B-doc crawl) take the distributed propagation path
    unchanged. Both paths emit bit-identical min-label clusters
    (property-tested); ``stats["path"]`` records which one ran. Pass 0 to
    force the distributed path (the scale rehearsal does).
    """
    # undirected edges, both directions, from ONE pass over the pairs: a
    # union of two projections runs the whole pair plan twice unless an
    # exchange happens to sit on top of it (measured on the MinHash pairs
    # at sf0.1: the union form signs every document twice, ~+0.7 s)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = truncate(edges, checkpoint_dir)

    if driver_threshold and edges.count() <= 2 * driver_threshold:
        if stats is not None:
            stats["rounds"] = 0
            stats["path"] = "driver-union-find"
        labels = _driver_union_find(docs.sparkSession, edges)
        release(edges)
        return docs.join(labels, "doc_id", "left").select(
            "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
        )
    if stats is not None:
        stats["path"] = "distributed-propagation"

    # Iterate ONLY over nodes that appear in some pair: propagation can
    # never change a doc with no edges, so singletons skip the rounds
    # entirely and rejoin at the end. Near-dup graphs are sparse — the
    # paired-node set is a small fraction of the corpus, so every
    # per-round join/agg shrinks from |docs| to |paired docs| (at 100 TB,
    # the difference between iterating over terabytes and over gigabytes).
    labels = edges.select(F.col("src").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("cluster_id"), F.lit(True).alias("changed")
    )
    # Frontier (delta) iteration: only labels that IMPROVED last round
    # send messages. Round 1 everyone sends; afterwards the edges⋈frontier
    # join carries only the still-active nodes — on a 100 TB graph the
    # active set collapses within a couple of rounds while the full
    # labels⋈edges join would stay corpus-sized every round. A label can
    # only improve via a neighbor whose label improved, so the delta
    # schedule reaches the same fixpoint as the dense one.
    rounds = 0

    def propagate(labels: DataFrame) -> DataFrame:
        nonlocal rounds
        rounds += 1
        frontier = labels.filter("changed")
        neighbor_min = (
            edges.join(frontier, edges["src"] == frontier["doc_id"])
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nmin"))
        )
        return (
            labels.drop("changed")
            .join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    "cluster_id", F.coalesce("nmin", F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.coalesce("nmin", F.col("cluster_id")) < F.col("cluster_id")).alias(
                    "changed"
                ),
            )
        )

    labels = iterate(
        labels,
        propagate,
        max_iter,
        while_any="changed",
        every=check_every,
        checkpoint_dir=checkpoint_dir,
    )
    release(edges)
    if stats is not None:
        stats["rounds"] = rounds
    # singletons (docs in no pair) map to themselves
    return docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
    )


def clusters_cte_oracle(pairs_cte: str) -> str:
    """Recursive-CTE cluster map as a composable ``WITH`` prefix.

    Yields CTEs ending in ``clusters(doc_id, cluster_id)`` — min-root
    reachability over the pair set produced by ``pairs_cte`` (a complete
    SQL query returning (doc_a, doc_b), inlined so both engines cluster
    exactly the same graph). Callers append their own final SELECT;
    :func:`dedup_clusters_oracle` and the cluster-safe split oracle both
    build on this prefix.
    """
    return f"""
WITH RECURSIVE pairs AS ({pairs_cte}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach (node, root) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
),
clusters AS (
    SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node
)"""


def dedup_clusters_oracle(pairs_cte: str) -> str:
    """Recursive-CTE twin of :func:`dedup_clusters`."""
    return clusters_cte_oracle(pairs_cte) + "\nSELECT doc_id, cluster_id FROM clusters"


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------

def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.45) -> DataFrame:
    """Near-dup vector pairs by cosine similarity (brute-force verifier).

    Quadratic by construction — the exactness baseline. The scale path is
    the LSH-bucketed variant in functions/similarity.py, which confines the
    pairwise work to same-bucket candidates.
    """
    par = emb.sparkSession.sparkContext.defaultParallelism
    n = emb.repartition(par).select(
        "vec_id", "embedding", F.expr(_spark_norm2("embedding")).alias("n2")
    )
    a, b = n.alias("a"), n.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            _cosine("a.embedding", "b.embedding", "a.n2", "b.n2").alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))
    )


def embedding_neardup_pairs_oracle(threshold: float = 0.45) -> str:
    return f"""
WITH n AS (
    SELECT vec_id, embedding, {_DUCK_NORM2} AS n2 FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_duck_dot('a.embedding', 'b.embedding')}
             / (sqrt(a.n2) * sqrt(b.n2)), 6) AS cos
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE {_duck_dot('a.embedding', 'b.embedding')} / (sqrt(a.n2) * sqrt(b.n2))
      >= {threshold}
"""


def embedding_neardup_lsh(emb: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Embedding near-dup pairs with an LSH bucket prefilter.

    Same scoring as :func:`embedding_neardup_pairs`, but candidate pairs
    come from an equi-join on the random-hyperplane bucket id
    (functions/similarity.py) instead of the full cross space — the
    100 TB shape: one hash shuffle on a bucket int, quadratic work only
    within buckets. Recall < 1 by construction (cosine-close pairs land in
    the same bucket with probability (1 - θ/π)^planes); more planes with
    multi-probe raise it.

    The default threshold is lower than the brute-force verifier's so the
    query returns a non-trivial pair set on the test corpus (which has no
    planted embedding near-dups).
    """
    par = emb.sparkSession.sparkContext.defaultParallelism
    n = emb.repartition(par).select(
        "vec_id",
        "embedding",
        F.expr(_spark_norm2("embedding")).alias("n2"),
        F.expr(_bucket_expr("spark")).alias("bucket"),
    )
    a, b = n.alias("a"), n.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            _cosine("a.embedding", "b.embedding", "a.n2", "b.n2").alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))
    )


def embedding_neardup_lsh_oracle(threshold: float = 0.3) -> str:
    return f"""
WITH n AS (
    SELECT vec_id, embedding, {_DUCK_NORM2} AS n2,
           {_bucket_expr('duck')} AS bucket
    FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_duck_dot('a.embedding', 'b.embedding')}
             / (sqrt(a.n2) * sqrt(b.n2)), 6) AS cos
FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_duck_dot('a.embedding', 'b.embedding')} / (sqrt(a.n2) * sqrt(b.n2))
      >= {threshold}
"""


# --------------------------------------------------------------------------
# winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — MOSS)
# --------------------------------------------------------------------------

WIN_K = 4         # tokens per k-gram
WIN_W = 4         # gram hashes per winnowing window
WIN_DFCAP = 50    # inverted-index df cap (stopgram guard)
# 2^23: positions packed below the 40-bit hash. 40 + 23 = 63 bits, so
# max key = (2^40-1)*2^23 + 2^23-1 = 2^63-1 — exactly the signed-bigint
# ceiling. Documents are capped at WIN_POSBITS k-grams (~8.4M tokens,
# far beyond any real document); k-grams past the cap are dropped by an
# explicit filter rather than silently borrowing from the hash bits.
WIN_POSBITS = 8388608
# fingerprint-shuffle sizing (r11): docs per post-shuffle partition.
# ~40 fingerprints/doc at rehearsal token counts → ~2M slim (doc_id, h)
# rows ≈ 32 MB per partition — comfortably inside a task's share of
# executor memory. The r10 shape inherited the STATIC
# spark.sql.shuffle.partitions (32 locally), so per-partition working
# sets grew linearly with the corpus and the 4M-doc/4g rehearsal OOM'd
# in the fingerprint sort — the textbook partition-count scale cliff.
WIN_DOCS_PER_PARTITION = 12_500


def winnowing_pairs(
    docs: DataFrame,
    checkpoint_dir: str | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """MOSS winnowing fingerprints → shared-fingerprint pairs.

    4-token k-gram md5-40 hashes; from every window of 4 consecutive
    hashes select the minimum with ties to the RIGHTMOST position — the
    tie rule is implemented by a single integer min() because
    2^23-1-pos is packed under the hash. Distinct selected hashes are
    the doc's fingerprints (any shared run of w+k-1 tokens shares one —
    the coverage guarantee). Pairs come from the df-capped inverted
    index, so join work is proportional to shared-fingerprint
    co-occupancy, never all-pairs; the selection windows partition per
    doc. Used by queries.dedup_winnowing and the 1M-doc rehearsal.

    Shuffle profile (r10 rewrite, VERDICT r9 #4): winnowing selection
    is PER-DOC, so it needs no corpus-wide window. The r1-r9 shape
    shuffled + sorted the full k-gram stream (one row per token) for a
    partitionBy(doc_id) window and then distinct-shuffled the selected
    hashes — 28.6 GB memory-spill at just 1M docs under a 4g heap
    (REHEARSAL_r09_spill.json), the heaviest profile in the engine.
    Now the packed keys, the sliding min, and the per-doc distinct all
    happen INSIDE the row as array expressions (whole-stage codegen,
    map-only); the slim (doc_id, h) fingerprint rows are repartitioned
    on the 8-byte hash once and CHECKPOINTED so the df filter and both
    self-join sides read the materialized table instead of re-running
    the md5 pipeline per consumer (column-pruning differences defeat
    ReusedExchange for the df-filter side, and three live consumers
    in one fused stage is exactly the simultaneous-footprint profile
    that OOM'd the 1M-doc 4g rehearsal). Per-row memory is bounded by
    the k-gram cap (WIN_POSBITS longs ≈ 67 MB worst case, ~KBs for
    real documents) instead of a corpus-global sort. As with
    dedup_clusters, pass ``checkpoint_dir`` on a real cluster for a
    reliable (replayable) checkpoint; the local default pins executor
    blocks."""
    toks = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("toks"),
        # < WIN_K + WIN_W - 1 tokens → fewer than WIN_W k-grams → no
        # full selection window → no fingerprints (the pos >= W-1
        # filter of the windowed form dropped these docs implicitly)
    ).filter(F.expr(f"size(toks) >= {WIN_K + WIN_W - 1}"))
    # packed (hash40 * 2^23 + (2^23-1 - pos)) keys for the first
    # WIN_POSBITS k-grams — identical arithmetic to the oracle
    keys = toks.select(
        "doc_id",
        F.expr(
            f"transform("
            f" sequence(0, least(size(toks) - {WIN_K}, {WIN_POSBITS - 1})),"
            f" i -> cast(conv(substr(md5("
            f"concat_ws(' ', slice(toks, i + 1, {WIN_K}))), 1, 10), 16, 10)"
            f" as bigint) * {WIN_POSBITS} + ({WIN_POSBITS - 1} - i))"
        ).alias("keys"),
    )
    # sliding min over each full window of WIN_W consecutive keys, then
    # per-doc distinct of the selected 40-bit hashes — all map-side
    fp = (
        keys.select(
            "doc_id",
            F.expr(
                f"array_distinct(transform("
                f" sequence({WIN_W - 1}, size(keys) - 1),"
                f" j -> array_min(slice(keys, j - {WIN_W - 2}, {WIN_W}))"
                f" div {WIN_POSBITS}))"
            ).alias("hs"),
        )
        .select("doc_id", F.explode("hs").alias("h"))
    )
    # partition count must SCALE with the corpus, not sit at the static
    # shuffle default: every downstream consumer (df filter, both SMJ
    # pair-join sides, their sorts) works per-partition, so a fixed
    # count turns 100× data into 100× per-task memory (the 4M@4g OOM).
    # The count is metadata-cheap for parquet/range scans; callers whose
    # docs is an expensive derived plan should pass ``n_docs`` to avoid
    # re-executing the lineage for the count (review r11).
    spark = docs.sparkSession
    if n_docs is None:
        n_docs = docs.count()
    try:
        # e.g. Databricks auto-optimized shuffle sets this to "auto"
        shuffle_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        shuffle_default = 0
    n_part = max(
        shuffle_default,
        spark.sparkContext.defaultParallelism,
        -(-n_docs // WIN_DOCS_PER_PARTITION),
        1,
    )
    fp = fp.repartition(n_part, F.col("h"))
    if checkpoint_dir is not None:
        configure_checkpoint_dir(
            docs.sparkSession.sparkContext, checkpoint_dir
        )
        fp = fp.checkpoint(eager=True)
    else:
        # DISK_ONLY, not localCheckpoint: the fingerprint table must not
        # compete with the consumer stage's sort/agg execution memory
        # (MEMORY_AND_DISK blocks pinned ~half the unified region and the
        # 1M-doc 4g rehearsal died UNABLE_TO_ACQUIRE_MEMORY); disk blocks
        # cost nothing from the heap, lineage stays replayable, and the
        # cached relation keeps the hash(h) partitioning for the joins.
        from pyspark.storagelevel import StorageLevel

        fp = fp.persist(StorageLevel.DISK_ONLY)
    hdf = (
        fp.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df").between(2, WIN_DFCAP))
        .select("h")
    )
    # Both pair-join sides read the checkpointed fp; hdf descends from
    # an aggregate whose size Catalyst may misestimate as tiny — on a
    # spark.range-built 1M-doc rehearsal it once BROADCAST a
    # corpus-sized table and OOM'd (the round-4 substring-span trap).
    # Pin to sort-merge: both sides spill, no in-memory build side.
    a = fp.alias("a").join(hdf.hint("merge"), "h")
    b = fp.alias("b").hint("merge")
    out = (
        a.join(b, "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    # cache lifetime (review r10): the DISK_ONLY blocks live until the
    # ContextCleaner reclaims the GC'd plan — fine for one-shot gate
    # queries, but a long-lived session doing repeated corpus-sized
    # runs should release explicitly once the pairs are materialized
    out._sqe_cached_fp = fp
    return out


def release_winnowing_cache(pairs: DataFrame) -> None:
    """Unpersist the fingerprint cache behind a winnowing_pairs result
    (call AFTER materializing the pairs — the rehearsal does)."""
    cached = getattr(pairs, "_sqe_cached_fp", None)
    if cached is not None:
        cached.unpersist()
