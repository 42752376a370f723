"""Deduplication operators: exact, MinHash+LSH, SimHash.

Scale design (the part the 60k-row test can't show):
- ``minhash_signatures`` is explode → 16 parallel MIN aggregates — one
  shuffle on doc_id, map-side partial aggregation, no Python.
- ``lsh_candidate_pairs`` shuffles on (band, minhash-value) bucket keys and
  pairs only within buckets, so work is Σ bucket² instead of n². Bucket
  sizes are capped: a degenerate bucket (e.g. the empty-text shingle) is
  dropped with a count guard rather than exploding quadratically.
- ``near_dup_pairs`` verifies candidates with exact Jaccard via a shingle
  join restricted to candidate docs (semi-join pushdown), never all pairs.

Engine-portable hashing: permutation ``p`` hashes a shingle to 8 hex chars
sliced out of ``md5('<p//4>:' || shingle)`` at offset ``(p%4)*8`` — one md5
yields four independent 32-bit hash functions (md5 output bits are
uniform), so 16 permutations cost 4 md5 calls per shingle instead of 16.
Fixed-width lowercase hex compares lexicographically = numerically, so MIN
over strings is MinHash. DuckDB computes the identical md5/substr, which
is what makes the oracle exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_NUM_PERM = 16
DEFAULT_SHINGLE = 3


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per document: (id, s).

    The shingle string is assembled in a regular projection AFTER an
    ``explode(sequence(...))`` of start positions — never inside a
    higher-order-function lambda: HOF lambdas are interpreted (no
    whole-stage codegen), and on 50k docs the codegen'd form measures
    ~10× faster end-to-end for the construction step.

    ``distinct=False`` skips the dedup shuffle — the single biggest cost
    of this stage (~4s of 5s at 2.6M shingles). Correct whenever the
    consumer is multiplicity-insensitive (MIN for MinHash, collect_set
    for bottom-k sketches); keep the default for Jaccard counting.
    """
    w = F.col("__w")
    base = (
        df.select(F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__w"))
        .filter(F.size(w) >= n)
        .select("id", "__w", F.explode(F.sequence(F.lit(1), F.size(w) - (n - 1))).alias("__i"))
        # element_at indexing (no per-shingle array allocation, unlike slice())
        .select(
            "id",
            F.concat_ws(
                " ", *[F.element_at(w, (F.col("__i") + k).cast("int")) for k in range(n)]
            ).alias("s"),
        )
    )
    return base.distinct() if distinct else base


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content hash: one row per distinct text with its
    canonical (minimum) id and multiplicity."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("id").alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = DEFAULT_NUM_PERM,
    n: int = DEFAULT_SHINGLE,
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, m0..m{num_perm-1}) — wide MinHash signature in ONE aggregate.

    Hash work is done once per shingle BEFORE any widening: one
    projection computes the ``num_perm/4`` md5 digests (each md5 yields
    four 8-hex-char permutation values — module docstring), then a single
    groupBy(id) runs ``num_perm`` MIN aggregates over plain substrings of
    those digests. No per-permutation row explosion (the previous long
    form hashed every shingle ``num_perm`` times — the dominant cost at
    50k docs), and the per-aggregate codegen is a trivial
    min(substring(...)): the Janino pathology of the original wide form
    came from repeating the full md5 expression tree inside each of the
    16 aggregates, not from aggregate count. Shingles are consumed
    WITHOUT distinct: MIN is multiplicity-insensitive, and the dedup
    shuffle it skips is the most expensive part of shingling."""
    sh = (
        _shingles
        if _shingles is not None
        else shingles(df, id_col, text_col, n, distinct=False)
    )
    n_md5 = (num_perm + 3) // 4
    hashed = sh.select(
        "id",
        *[
            F.md5(F.concat(F.lit(f"{g}:"), F.col("s"))).alias(f"__h{g}")
            for g in range(n_md5)
        ],
    )
    aggs = [
        F.min(F.substring(F.col(f"__h{p // 4}"), (p % 4) * 8 + 1, 8)).alias(f"m{p}")
        for p in range(num_perm)
    ]
    return hashed.groupBy("id").agg(*aggs)


def minhash_long(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = DEFAULT_NUM_PERM,
    n: int = DEFAULT_SHINGLE,
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, band, v) — one MinHash row per (doc, permutation).

    Derived by exploding the WIDE signatures: the explode runs on the
    post-aggregation rows (#docs × num_perm), not on the pre-aggregation
    shingle stream (#shingles × num_perm) as the earlier formulation did."""
    sigs = minhash_signatures(df, id_col, text_col, num_perm, n, _shingles)
    bands = F.array(
        *[
            F.struct(F.lit(p).alias("band"), F.col(f"m{p}").alias("v"))
            for p in range(num_perm)
        ]
    )
    return sigs.select("id", F.explode(bands).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.v").alias("v")
    )


def xx_band_stream(sh_raw: DataFrame, num_perm: int = DEFAULT_NUM_PERM) -> DataFrame:
    """(id, band, v) long-form LSH band stream from xxhash64 — the
    candidate-generation analogue of :func:`minhash_long` for consumers
    whose contract pins only the FINAL pair set (near_dup_pairs: the
    oracle is the exact all-pairs Jaccard), not the hash values.

    Each 64-bit digest yields two independent 32-bit band values
    (top/bottom half), so ``num_perm`` permutations cost ``num_perm/2``
    non-crypto hashes returning longs — no 32-hex-char materialization,
    long MIN aggregates, 8-byte shuffle values. Same band structure
    (b=num_perm, r=1) ⇒ identical recall guarantees to the md5 family.
    Measured r13 (OPTIMIZATION_r13.md, sf2x20, noop sink): the
    signature stage 2.20 → 1.11 s vs minhash_long; shingling is 0.29 s.

    NOT for ``incremental_near_dup``: its corpus side is the
    graft_b_lsh_index layout materialized at ingest with md5 values —
    batch and index must hash identically."""
    n_h = (num_perm + 1) // 2
    hashed = sh_raw.select(
        "id",
        *[F.xxhash64(F.lit(g), "s").alias(f"__h{g}") for g in range(n_h)],
    )
    aggs = []
    for p in range(num_perm):
        col = F.col(f"__h{p // 2}")
        e = F.shiftright(col, 32) if p % 2 == 0 else col.bitwiseAND(F.lit(0xFFFFFFFF))
        aggs.append(F.min(e).alias(f"m{p}"))
    sigs = hashed.groupBy("id").agg(*aggs)
    bands = F.array(
        *[F.struct(F.lit(p).alias("band"), F.col(f"m{p}").alias("v")) for p in range(num_perm)]
    )
    return sigs.select("id", F.explode(bands).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.v").alias("v")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, num_perm: int = DEFAULT_NUM_PERM, max_bucket: int = 64
) -> DataFrame:
    """Candidate (id1, id2) pairs: docs sharing ANY of the ``num_perm``
    single-row bands (b=num_perm, r=1 — recall 1-(1-s)^b).

    Plan: unpivot to (band, value, id) → shuffle on (band, value) →
    within-bucket pairing. ``max_bucket`` drops degenerate buckets — a
    bucket far larger than any plausible duplicate cluster is a hash
    artifact of common shingles, and with b single-row bands a true
    near-dup pair collides in almost every band, so dropping one bloated
    bucket costs no recall while preventing quadratic pair blowup (the
    skew guard the 1000-executor case needs).
    """
    bands = F.array(*[F.struct(F.lit(p).alias("band"), F.col(f"m{p}").alias("v")) for p in range(num_perm)])
    flat = sigs.select("id", F.explode(bands).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.v").alias("v")
    )
    return lsh_candidate_pairs_long(flat, max_bucket)


def lsh_candidate_pairs_long(
    flat: DataFrame, max_bucket: int = 64, min_band_matches: int = 1
) -> DataFrame:
    """Candidate (id1, id2, n_match) from the long (id, band, v) form.

    TWO shuffles: group each bucket, drop singletons/degenerate buckets,
    emit the within-bucket pairs from the grouped array (all JVM-side),
    then aggregate pair multiplicity. ``n_match`` — how many of the b
    single-row bands the pair collides in — is the MinHash Jaccard
    estimate numerator (E[n_match] = b·s), and it costs nothing extra:
    the pair stream had to be deduplicated anyway, and a groupBy-count is
    the same shuffle as the distinct it replaces.

    ``min_band_matches`` prunes on that free estimate. With r=1 bands any
    two docs sharing ONE hash collide somewhere (P = 1-(1-s)^b ≈ 80% even
    at s≈0.1), so the raw candidate set grows ~quadratically in corpus
    size while true near-dups grow linearly — measured 1.57M candidates
    for 2.5k true pairs on 50k docs. Pruning at n_match ≥ b·t/2 (half the
    expected matches at the verify threshold t) keeps recall
    deterministic-exact in practice (P[miss at s=0.9, b=16] ≈ 1e-8 per
    pair) while cutting the exact-verify join input by ~300×.
    """
    buckets = (
        flat.groupBy("band", "v")
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id1"), y.alias("id2")),
            ),
        )
    )
    g = (
        buckets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.id1").alias("id1"), F.col("p.id2").alias("id2"))
        .agg(F.count("*").alias("n_match"))
    )
    if min_band_matches > 1:
        g = g.filter(F.col("n_match") >= min_band_matches)
    return g


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    num_perm: int = DEFAULT_NUM_PERM,
    n: int = DEFAULT_SHINGLE,
    _bands: DataFrame | None = None,
) -> DataFrame:
    """(id1, id2, jaccard) — LSH candidates verified with exact Jaccard ≥
    threshold. jaccard = |∩| / (|s1|+|s2|−|∩|), an exact int/int divide.

    Candidate-side shingles are generated without distinct — MinHash
    only needs the multiset. The Jaccard verify step needs distinct
    shingles, but only for docs that survive candidate pruning, so BOTH
    the shingle generation (explode) and its dedup shuffle run on the
    candidate-doc slice (~0.1% of the corpus at 50k docs), never the
    full corpus.

    NO intra-query .cache() (r14, OPTIMIZATION_r14.md, sf2x20):
    the multiply-consumed subtrees (the candidate pairs, 3 uses; the
    shingle stream, 2 uses) both end at or feed exchanges whose
    canonical plans are identical across uses, so Spark's ReuseExchange
    already computes them once per job — while materializing the
    corpus-sized shingle stream into the block-store cost ~2 s/pass and
    its memory pressure made every sample erratic. Measured interleaved
    cold-cache medians: cache-both 4.70 s, no-cache 2.64 s (and the
    no-cache samples were the only stable ones).

    ``_bands`` substitutes a pre-materialized long (id, band, v) band
    stream for the in-query xx_band_stream — the graft_b_lsh_index
    layout maintained at ingest. The caller must guarantee it was built
    over the SAME documents with the same num_perm/shingle params (the
    graft fingerprint does); band VALUES may differ from xxhash64's
    (the index pins md5 minima) because the output contract pins only
    the exact-Jaccard-verified pair set and the (b=num_perm, r=1) band
    structure — and with it the recall bound — is identical."""
    # Candidate bands come from xx_band_stream, not minhash_long: the
    # output contract (exact-Jaccard-verified pair set) pins no hash
    # values, and the xxhash64 family halves the signature stage.
    band_src = (
        _bands
        if _bands is not None
        else xx_band_stream(shingles(df, id_col, text_col, n, distinct=False), num_perm)
    )
    cand = lsh_candidate_pairs_long(
        band_src,
        min_band_matches=max(1, int(num_perm * threshold / 2)),
    ).select("id1", "id2")
    cand_ids = cand.select(F.col("id1").alias("id")).union(
        cand.select(F.col("id2").alias("id"))
    ).distinct()
    # Shingle ONLY candidate docs for the exact-Jaccard verify: a doc's
    # shingles depend on that row alone, so the candidate semi-join
    # commutes with shingle generation — filtering df BEFORE the explode
    # re-shingles ~0.1% of the corpus instead of 100% (the old form
    # semi-joined the already-exploded corpus shingle stream, which the
    # engine cannot push below the Generate). Same distinct (id, s) set.
    cand_docs = df.join(
        F.broadcast(cand_ids.withColumnRenamed("id", id_col)), id_col, "left_semi"
    )
    sh = shingles(cand_docs, id_col, text_col, n, distinct=True)
    counts = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    # equi-join on (id, shingle) BOTH times: |result| = |actual overlaps|,
    # never candidate-count × shingle-count (the quadratic trap)
    inter = (
        cand.join(sh.select(F.col("id").alias("id1"), "s"), "id1")
        .join(sh.select(F.col("id").alias("id2"), "s"), ["id2", "s"])
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(counts.select(F.col("id").alias("id1"), F.col("n_sh").alias("n1")), "id1")
        .join(counts.select(F.col("id").alias("id2"), F.col("n_sh").alias("n2")), "id2")
        .withColumn("jaccard", F.col("i") / (F.col("n1") + F.col("n2") - F.col("i")))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def simhash32(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash as a bit string: bit j is the sign of the count-
    weighted sum of ±1 votes, where token t votes +1 on bit j iff hex digit
    j of md5(t) is ≥ '8'. Engine-portable and fully JVM-side."""
    # One shuffle: each token OCCURRENCE votes directly (Σ over occurrences
    # of ±1 per bit ≡ the count-weighted sum — no (id, token) pre-aggregate,
    # whose shuffle cost exceeded the md5-per-occurrence it saved).
    tokens = (
        df.select(F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), " ")).alias("t"))
        .filter(F.col("t") != "")
        .withColumn("h", F.md5("t"))
    )
    # Hex digit j >= '8' <=> the top bit of nibble j is set ('8'-'9' and
    # 'a'-'f' are exactly the nibbles 8..15 in md5's lowercase hex), so
    # the 32 votes come from bit arithmetic on 4 int chunks of the digest
    # instead of 32 per-row substring allocations + string compares
    # (r13 A/B, OPTIMIZATION_r13.md: 1.236 -> 0.949 s at sf2).
    chunked = tokens.select(
        "id",
        *[
            F.conv(F.substring("h", 8 * c + 1, 8), 16, 10).cast("long").alias(f"__c{c}")
            for c in range(4)
        ],
    )
    bit_sums = [
        F.sum(
            F.shiftright(F.col(f"__c{j // 8}"), (7 - j % 8) * 4 + 3).bitwiseAND(F.lit(1))
            * 2
            - 1
        ).alias(f"b{j}")
        for j in range(32)
    ]
    agg = chunked.groupBy("id").agg(*bit_sums)
    bits = F.concat(*[F.when(F.col(f"b{j}") > 0, "1").otherwise("0") for j in range(32)])
    return agg.select("id", bits.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 3,
) -> DataFrame:
    """(id1, id2, hamming) — SimHash pairs with Hamming distance ≤ max_dist.

    Pigeonhole banding: split the 32-bit signature into ``max_dist + 1``
    disjoint bands — any pair within distance max_dist agrees EXACTLY on
    at least one band (max_dist flipped bits can dirty at most max_dist
    bands). Candidates come from equality self-joins on (band_idx,
    band_bits) — a hash-partitioned shuffle, never the all-pairs product.

    Two defenses against candidate explosion (VERDICT r11 #2 — 23.6M
    exploded pairs cost 1523 s vs the oracle's 258 s at the sf10 sweep):

    1. **Signature-level banding.** The band join runs on DISTINCT
       signatures, never on doc ids. Duplicated/boilerplate corpora pile
       thousands of docs onto one signature; banding ids costs
       (docs-per-sig)² per collision while banding signatures costs
       (sigs-per-band-value)², and the id expansion afterwards is linear
       in the OUTPUT (each qualifying id pair materializes exactly once,
       the value-level form fuzzy_name_pairs already uses).
    2. **JVM bit_count prefilter.** Each signature also travels as its
       integer value, so the Hamming check is one
       ``bit_count(sh1 ^ sh2) <= max_dist`` — a codegen intrinsic applied
       MAP-SIDE at the join output, before the distinct's exchange ever
       materializes a candidate (the old form shuffled every candidate
       with two 32-char strings and compared 32 substring pairs).

    ``max_dist`` must be in [1, 15] so each band is ≥ 2 bits wide; wider
    distances would give 0/1-bit bands where every doc collides and the
    join degenerates to the quadratic cross-product. When 32 is not a
    multiple of ``max_dist + 1`` the trailing ``32 mod (max_dist+1)``
    bits belong to no band — still correct (bands only need to cover
    disjoint slices; the pigeonhole argument needs max_dist+1 bands, not
    full coverage), just slightly more candidates than a full split.
    """
    if not (1 <= max_dist <= 15):
        raise ValueError(
            f"max_dist must be in [1, 15] (bands need >= 2 bits), got {max_dist}"
        )
    n_bands = max_dist + 1
    width = 32 // n_bands
    sigs = simhash32(df, id_col, text_col).withColumn(
        "sh", F.conv("simhash", 2, 10).cast("long")
    )
    usig = sigs.select("sh", "simhash").distinct()
    bands = usig.select(
        "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.substring("simhash", i * width + 1, width).alias("bits"),
                )
                for i in range(n_bands)
            ])
        ).alias("b"),
    ).select("sh", "b.band", "b.bits")
    ham = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    # sh1 <= sh2 keeps equal-signature groups (their internal pairs are
    # Hamming 0) alongside cross-signature pairs; the prefilter runs in
    # the join stage so only true signature pairs reach the distinct.
    sig_pairs = (
        bands.select("band", "bits", F.col("sh").alias("sh1"))
        .join(bands.select("band", "bits", F.col("sh").alias("sh2")), ["band", "bits"])
        .filter((F.col("sh1") <= F.col("sh2")) & (ham <= max_dist))
        .select("sh1", "sh2")
        .distinct()
        .withColumn("hamming", ham.cast("int"))
    )
    # Expand signature pairs to id pairs — linear in the output: a doc
    # carries exactly one signature, so cross-signature expansion yields
    # each unordered id pair once, and equal-signature groups enumerate
    # ida < idb once.
    ids = sigs.select("id", "sh")
    return (
        sig_pairs
        .join(ids.select(F.col("sh").alias("sh1"), F.col("id").alias("ida")), "sh1")
        .join(ids.select(F.col("sh").alias("sh2"), F.col("id").alias("idb")), "sh2")
        .filter((F.col("sh1") < F.col("sh2")) | (F.col("ida") < F.col("idb")))
        .select(
            F.least("ida", "idb").alias("id1"),
            F.greatest("ida", "idb").alias("id2"),
            "hamming",
        )
    )


def jaccard_join_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """(id1, id2, jaccard) — EXACT Jaccard ≥ threshold via prefix filtering
    (the AllPairs/PPJoin family), the deterministic alternative to LSH.

    Theorem: order every doc's distinct shingles by one global order
    (frequency-ascending, rarest first — smallest candidate lists); if
    J(A,B) ≥ t then |A∩B| ≥ ceil(t·|A|), so A and B must share a shingle
    inside A's first |A| − ceil(t·|A|) + 1 shingles. Candidates therefore
    come from an equi-join on PREFIX shingles only; everything outside
    both prefixes can be ignored until the exact verify. No hashing, no
    false negatives at any threshold — the trade vs LSH is the global
    frequency ranking (one extra aggregate + window over the doc key).
    """
    sh = shingles(df, id_col, text_col, n, distinct=True).cache()
    counts = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    freq = sh.groupBy("s").agg(F.count("*").alias("freq"))
    from pyspark.sql import Window as W

    ranked = (
        sh.join(freq, "s")
        .withColumn("rk", F.row_number().over(W.partitionBy("id").orderBy("freq", "s")))
        .join(counts, "id")
    )
    # ceil on doubles: FP representation error in threshold*n_sh can land
    # just ABOVE an integer and inflate ceil by 1, shortening the prefix
    # and re-admitting false negatives. Shave an epsilon so the error can
    # only lengthen (never shorten) the prefix — longer is always safe.
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
        + 1
    ).select("id", "s")
    cand = (
        prefix.select(F.col("id").alias("id1"), "s")
        .join(prefix.select(F.col("id").alias("id2"), "s"), "s")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("id").alias("id1"), "s"), "id1")
        .join(sh.select(F.col("id").alias("id2"), "s"), ["id2", "s"])
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(counts.select(F.col("id").alias("id1"), F.col("n_sh").alias("n1")), "id1")
        .join(counts.select(F.col("id").alias("id2"), F.col("n_sh").alias("n2")), "id2")
        .withColumn("jaccard", F.col("i") / (F.col("n1") + F.col("n2") - F.col("i")))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def incremental_exact(
    batch: DataFrame,
    corpus_hashes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_rows: int | None = None,
    small_corpus_rows: int = 10_000_000,
) -> DataFrame:
    """Which docs in this new batch duplicate anything already ingested?
    (VERDICT r12 #3 — the natural 100 TB ingest question.)

    ``corpus_hashes`` is the fingerprint-at-ingest table
    (doc_id, content_hash) — at scale the graft_b_doc_hashes layout.
    The batch's own hashes are computed here — it is new data, so
    hashing it is the irreducible work.

    Two plans, chosen by the MEASURED corpus size (``corpus_rows`` —
    callers pass the layout's graft.grain_rows property; None means
    "assume huge", the scale-safe default):

    - **broadcast-probe** (corpus > ``small_corpus_rows``): the batch is
      the SMALL side by construction (one ingest micro-batch vs the
      whole corpus), so its hashes BROADCAST against the corpus in ONE
      probe (r14, VERDICT r13 #7): corpus INNER JOIN broadcast(batch)
      on content_hash, UNIONed with one null-candidate row per batch
      doc, then a batch-keyed min aggregate (min skips nulls, so a
      batch doc with no corpus match aggregates to NULL canonical_id) —
      the corpus is scanned once against a broadcast hash table, never
      shuffled, never aggregated at its own grain, and only batch-sized
      (map-side-combined) rows cross the network. One broadcast barrier
      where the r13 shape (semi-probe → matched-slice aggregate →
      broadcast the canonical map back) paid two; measured at sf2x20
      interleaved (OPTIMIZATION_r14.md): single-probe median 1.21 s
      vs probe 4.05 s under load, and it dominates structurally (same
      probe scan, one fewer broadcast round-trip). The union-with-base
      form rather than RIGHT OUTER JOIN broadcast(batch), which reads
      the same: a BroadcastHashJoin cannot PRESERVE its broadcast side
      (unmatched build rows are untrackable across tasks), so for
      RightOuter only BuildLeft is plannable and the broadcast hint on
      the batch is silently unusable — once the corpus outgrows the
      size-based threshold the outer form degrades to a SortMergeJoin
      that shuffles the ENTIRE corpus (verified on a plan with
      autoBroadcastJoinThreshold=-1). Inner+BuildRight is legal at any
      corpus size, so this shape survives 100 TB.
    - **corpus-grain** (small corpus): aggregate the corpus grain (an
      exchange-free map-side groupBy on the content_hash-bucketed
      layout) and sort-merge the batch against it. Fewer serialized
      stage barriers, which dominates when the corpus is only ~1e6 rows
      (measured at sf10: 0.86 s vs 2.0 s for the 2-barrier probe plan;
      sf2x20 r14 A/B: grain 0.49-0.78 s vs routb 1.12-1.21 s — the
      broadcast build itself is the latency floor at this size, so the
      measured-size plan choice stands).

    Returns one row per batch doc: (batch_id, content_hash, is_dup,
    canonical_id) — canonical_id is the smallest corpus doc_id holding
    identical content, NULL when the batch doc is fresh."""
    b = batch.select(
        F.col(id_col).alias("batch_id"), F.md5(F.col(text_col)).alias("content_hash")
    )
    if corpus_rows is not None and 0 < corpus_rows <= small_corpus_rows:
        canon = corpus_hashes.groupBy("content_hash").agg(
            F.min(id_col).alias("canonical_id")
        )
        joined = b.join(canon, "content_hash", "left")
        return joined.select(
            "batch_id",
            "content_hash",
            F.col("canonical_id").isNotNull().cast("int").alias("is_dup"),
            "canonical_id",
        )
    matched = corpus_hashes.join(F.broadcast(b), "content_hash", "inner").select(
        "batch_id", "content_hash", F.col(id_col).alias("__cand")
    )
    base = b.select(
        "batch_id",
        "content_hash",
        F.lit(None).cast(corpus_hashes.schema[id_col].dataType).alias("__cand"),
    )
    return (
        base.unionByName(matched)
        .groupBy("batch_id", "content_hash")
        .agg(F.min("__cand").alias("canonical_id"))
        .select(
            "batch_id",
            "content_hash",
            F.col("canonical_id").isNotNull().cast("int").alias("is_dup"),
            "canonical_id",
        )
    )


def incremental_near_dup(
    batch: DataFrame,
    corpus: DataFrame,
    corpus_index: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    num_perm: int = DEFAULT_NUM_PERM,
    n: int = DEFAULT_SHINGLE,
    max_bucket: int = 64,
) -> DataFrame:
    """Near-duplicate analogue of :func:`incremental_exact`: batch docs
    vs the ALREADY-INGESTED corpus via the banded MinHash index, verified
    with exact Jaccard ≥ threshold. Returns (batch_id, corpus_id,
    jaccard) — only cross pairs, never corpus×corpus.

    ``corpus_index`` is the long-form banded index (id, band, v) — at
    scale the graft_b_lsh_index layout maintained at ingest (bucketed on
    (band, v), row-wise appendable, so each refresh appends just the new
    docs' signatures). When it is None the index is derived here (the
    plain-path fallback). Candidate generation NEVER rescans corpus
    text: the index side is grouped per (band, v) bucket — a groupBy
    that rides the bucket layout exchange-free — capped at
    ``max_bucket`` ids (degenerate-bucket skew guard, same rationale as
    lsh_candidate_pairs_long), then joined against the batch's freshly
    computed bands. Only candidate corpus docs' text is read back for
    the exact-Jaccard verify (semi-join pruned scan)."""
    if corpus_index is None:
        corpus_index = minhash_long(corpus, id_col, text_col, num_perm, n)
    batch_sh_raw = shingles(batch, id_col, text_col, n, distinct=False).cache()
    batch_bands = minhash_long(
        batch, id_col, text_col, num_perm, n, _shingles=batch_sh_raw
    )
    # min band matches at the verify threshold — the free Jaccard
    # estimate prune (see lsh_candidate_pairs_long)
    min_match = max(1, int(num_perm * threshold / 2))
    corpus_buckets = (
        corpus_index.groupBy("band", "v")
        .agg(F.sort_array(F.collect_set("id")).alias("cids"))
        .filter(F.size("cids") <= max_bucket)
    )
    cand = (
        batch_bands.join(corpus_buckets, ["band", "v"])
        .select(F.col("id").alias("batch_id"), F.explode("cids").alias("corpus_id"))
        .groupBy("batch_id", "corpus_id")
        .agg(F.count("*").alias("n_match"))
        .filter(F.col("n_match") >= min_match)
        .select("batch_id", "corpus_id")
        .cache()
    )
    # exact verify on the candidate slice only
    b_ids = cand.select(F.col("batch_id").alias("id")).distinct()
    c_ids = cand.select(F.col("corpus_id").alias("id")).distinct()
    b_sh = batch_sh_raw.join(F.broadcast(b_ids), "id", "left_semi").distinct()
    c_sh = (
        shingles(
            corpus.join(
                F.broadcast(c_ids.select(F.col("id").alias(id_col))), id_col, "left_semi"
            ),
            id_col,
            text_col,
            n,
            distinct=True,
        )
    )
    bn = b_sh.groupBy("id").agg(F.count("*").alias("nb"))
    cn = c_sh.groupBy("id").agg(F.count("*").alias("nc"))
    inter = (
        cand.join(b_sh.select(F.col("id").alias("batch_id"), "s"), "batch_id")
        .join(c_sh.select(F.col("id").alias("corpus_id"), "s"), ["corpus_id", "s"])
        .groupBy("batch_id", "corpus_id")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(bn.select(F.col("id").alias("batch_id"), "nb"), "batch_id")
        .join(cn.select(F.col("id").alias("corpus_id"), "nc"), "corpus_id")
        .withColumn("jaccard", F.col("i") / (F.col("nb") + F.col("nc") - F.col("i")))
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "jaccard")
    )
