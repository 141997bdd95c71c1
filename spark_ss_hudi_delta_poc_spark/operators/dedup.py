"""Deduplication operator family for training-data pipelines.

All variants share one design: deterministic cross-engine hashing
(functions/hashing.py) so every result hash-matches the DuckDB oracle, and
shuffle-minimal plans that survive 100 TB:

- exact:     one shuffle on a 60-bit text hash (never on the full text —
             group keys stay 8 bytes at any document size);
- n-gram Jaccard: shingle-explode → self-join on shingle → count — the
             classic inverted-index plan; optional document-frequency cap
             drops stop-shingles, which is what bounds the join fanout at
             scale;
- MinHash+LSH: K affine-family min-hashes over one 48-bit base hash →
             banded bucket hashes → candidates generated within buckets →
             exact Jaccard verification on candidates (LSH is candidate
             GENERATION, never the final answer);
- SimHash:   60 partial-agg bit sums → one fingerprint per doc, single
             shuffle, constant state per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import affine_constants, affine_hash, md5_long, md5_long48
from ..functions.text import shingles

from .partitioning import spread as _spread

SIMHASH_BITS = 60  # md5_long yields 60-bit values
MINHASH_K = 12
MINHASH_BANDS = 4  # rows per band r = K / BANDS = 3
# Default document-frequency cap for the shingle self-join: a shingle in
# >100 docs is boilerplate, not near-dup evidence, and bounds the join
# fan-out at 100^2 pairs per shingle regardless of corpus size.  ON by
# default since round 3 (the oracle applies the identical cap).
MAX_SHINGLE_DF = 100


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: group on a 60-bit hash of the text, keep the
    min id as the canonical representative.

    Returns (text_hash, keep_doc_id, n_copies).  Hash collisions at 60
    bits are ~2^-60 per pair — the standard at-scale trade; the oracle uses
    the identical hash so results always agree.
    """
    return (
        docs.select(md5_long(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


PREFIX_DEDUP_CHARS = 64


def prefix_dedup(
    docs: DataFrame,
    n_chars: int = PREFIX_DEDUP_CHARS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Prefix-duplicate groups: documents sharing an identical first
    ``n_chars`` characters — the truncation-artifact detector whole-doc
    exact dedup misses.  Crawled/exported corpora are full of the same
    document cut at different lengths (connection drops, size caps,
    re-extraction with different limits): the copies hash differently as
    whole texts but identically on a fixed prefix.  The standard triage:
    a prefix group whose members have DIFFERENT lengths is a truncation
    chain (keep the longest); identical lengths are exact_dedup's job.

    Scale shape: identical to exact_dedup — one map stage hashes the
    60-bit prefix hash (never shuffles the text), ONE shuffle groups on
    the 8-byte key with map-side partials.  Docs shorter than ``n_chars``
    are excluded (their "prefix" is the whole doc — exact/containment
    territory), so every group member hashed the same char count.

    Returns (prefix_hash, n_copies, keep_doc_id, max_len, n_lengths) for
    groups with >= 2 members; keep_doc_id is the LONGEST member
    (ties: min id) — the canonical survivor of a truncation chain.
    """
    eligible = docs.where(F.length(F.col(text_col)) >= n_chars)
    hashed = eligible.select(
        md5_long(F.substring(F.col(text_col), 1, n_chars)).alias("prefix_hash"),
        F.col(id_col).alias("doc_id"),
        F.length(F.col(text_col)).cast("long").alias("len"),
    )
    # keep = longest, tie-break min id: max on (len, -id) packed as a struct
    best = F.max(F.struct(F.col("len"), (-F.col("doc_id")).alias("nid")))
    return (
        hashed.groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            best.alias("_best"),
            F.max("len").alias("max_len"),
            F.count_distinct("len").alias("n_lengths"),
        )
        .where(F.col("n_copies") >= 2)
        .select(
            "prefix_hash",
            "n_copies",
            (-F.col("_best.nid")).alias("keep_doc_id"),
            "max_len",
            "n_lengths",
        )
    )


def shingle_table(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded distinct word n-grams — the inverted-index
    input shared by the Jaccard and MinHash paths."""
    return _spread(docs).select(
        F.col(id_col).alias("doc_id"), F.explode(shingles(F.col(text_col), n)).alias("shingle")
    )


def _shingle_pair_overlaps(sh: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """(doc_id_a, doc_id_b, inter, na, nb) for every doc pair sharing at
    least one (df-capped) shingle of the (doc_id, shingle) table ``sh`` —
    the inverted-index join every exact set-similarity measure starts
    from.  The lazy interior plan of :func:`ngram_jaccard_pairs` and
    :func:`ngram_containment_pairs`, kept separate so tests/test_plans.py
    can pin its shape (the public functions return a materialized
    checkpoint whose explain shows only a scan).

    ``max_shingle_df`` drops shingles appearing in more than N docs
    before the self-join — at 100 TB this is mandatory: one stop-shingle
    in 10^6 docs is a 10^12-row join blowup.  The drop is a broadcast
    ANTI-join against the FREQUENT set (df > cap): zipfian text makes
    that set tiny (heavy hitters only), while the rare set is nearly
    every distinct shingle — a rare-side semi-join would shuffle the
    whole shingle table against an |all-shingles|-sized build side.
    Set sizes na/nb come from the CAPPED table so both the engine and
    the DuckDB oracle measure the same sets.

    The per-doc size table is one row PER DOCUMENT — corpus-sized, so it
    must never be broadcast (round-5 broadcast(doc_len) anti-pattern).
    Instead sizes ride the shingle rows into the pair aggregate: a plain
    hash join on doc_id attaches n_shingles to each shingle row (reusing
    the sizes aggregate's exchange), and max(na)/max(nb) fold through the
    same groupBy that counts the intersection — the winnow_overlap_pairs
    shape, zero joins after the pair aggregate.
    """
    if max_shingle_df is not None:
        frequent = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_shingle_df)
        )
        sh = sh.join(F.broadcast(frequent.select("shingle")), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    shn = sh.join(sizes, "doc_id")  # shuffle join on doc_id; sizes ride the rows
    a = shn.alias("a")
    b = shn.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("a.n_shingles").alias("na"),
            F.max("b.n_shingles").alias("nb"),
        )
    )


def _materialized_overlap_pairs(
    docs: DataFrame,
    n: int,
    max_shingle_df: int | None,
    measure,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``measure`` applied to the shingle overlaps of ``docs``, returned
    as an eagerly materialized checkpoint.

    The shingle table feeds four consumers (the df-cap aggregate, the
    anti-join, the sizes aggregate, the sizes join) and the self-join
    copies each, so a lazy table re-runs the Python shingle UDF for
    several of them.  It is persisted for the length of the call and
    forced by one count BEFORE the pair plan runs, so every document
    passes through the UDF once: a lazy persist alone is not enough,
    because concurrent AQE query stages each recompute the input before
    the cache is filled.  The result is checkpointed while the cache is
    hot and the cache released in a ``finally`` — the minhash_lsh_pairs
    shape, so no CacheManager entry outlives the call (round-4 leak).
    """
    from pyspark import StorageLevel

    sh = shingle_table(docs, text_col=text_col, id_col=id_col, n=n).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        sh.count()
        return measure(_shingle_pair_overlaps(sh, max_shingle_df)).localCheckpoint(eager=True)
    finally:
        sh.unpersist()


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle self-join (see
    :func:`_shingle_pair_overlaps` for the df-cap scale argument).
    Pass ``max_shingle_df=None`` for exact textbook Jaccard.  The pairs
    come back materialized (:func:`_materialized_overlap_pairs`)."""

    def jaccard(ov: DataFrame) -> DataFrame:
        uni = F.col("na") + F.col("nb") - F.col("inter")
        return ov.select(
            "doc_id_a",
            "doc_id_b",
            "inter",
            uni.alias("uni"),
            (F.col("inter").cast("double") / uni.cast("double")).alias("jaccard"),
        ).where(F.col("jaccard") >= threshold)

    return _materialized_overlap_pairs(docs, n, max_shingle_df, jaccard, text_col=text_col, id_col=id_col)


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ASYMMETRIC near-dup pairs: containment of the smaller shingle set
    in the larger, C = |A∩B| / min(|A|,|B|).

    Jaccard misses doc-inside-doc duplication (a page quoted whole
    inside a 10× longer page has J ≈ 0.1 but C = 1.0) — the dominant
    boilerplate/quotation pattern in crawled corpora.  Same single
    inverted-index join as Jaccard, materialized the same way; only the
    final measure differs.
    """

    def containment(ov: DataFrame) -> DataFrame:
        return ov.select(
            "doc_id_a",
            "doc_id_b",
            "inter",
            "na",
            "nb",
            (F.col("inter").cast("double") / F.least("na", "nb").cast("double")).alias("containment"),
        ).where(F.col("containment") >= threshold)

    return _materialized_overlap_pairs(docs, n, max_shingle_df, containment, text_col=text_col, id_col=id_col)


def minhash_signatures(docs: DataFrame, k: int = MINHASH_K, n: int = 3) -> DataFrame:
    """(doc_id, m0..m{k-1}): K min-hashes per document, wide form.

    Plan shape matters: explode shingles ONCE (not ×K seeds), hash each
    shingle ONCE (48-bit md5 base), derive all K family members as
    universal affine transforms (a_i*(h mod p) + b_i mod p, full-range
    a_i — four integer ops each, one codegen'd projection), then K `min`
    aggregates in a single shuffle with map-side partials.  Row count through the shuffle = |shingles|, each row ~8·K
    bytes.  (Three rejected shapes: explode ×K multiplies shuffle rows by
    K; per-seed array_min(transform(...)) leaves whole-stage codegen —
    higher-order lambdas are interpreter-fallback — and measures ~10×
    slower; K prefix-seeded md5s per shingle made the signature stage the
    operator's hot spot — 12 MessageDigest calls where two imuls suffice.)
    """
    return signatures_from_shingles(shingle_table(docs, n=n), k=k)


def signatures_from_shingles(sh: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """:func:`minhash_signatures` over a prebuilt (doc_id, shingle) table —
    callers that also need the shingle table for verification (LSH pairs,
    incremental ingest) persist it once and feed both consumers, instead
    of running the shingle builder twice."""
    return signatures_from_hashes(sh.select("doc_id", md5_long48("shingle").alias("h")), k=k)


def signatures_from_hashes(shd: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """Signatures over a pre-hashed (doc_id, h) shingle table — the LSH
    pairs operator hashes its shingle table ONCE and shares the long-typed
    result between this and the verification joins (8-byte join keys
    instead of shingle strings through every shuffle)."""
    consts = affine_constants(k)
    hashed = shd.select(
        "doc_id",
        *[affine_hash(F.col("h"), a, b).alias(f"h{i}") for i, (a, b) in enumerate(consts)],
    )
    return hashed.groupBy("doc_id").agg(*[F.min(f"h{i}").alias(f"m{i}") for i in range(k)])


def minhash_band_buckets(signatures: DataFrame, bands: int = MINHASH_BANDS, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, band, band_hash): hash each band's r consecutive minhashes
    (seed order) into one bucket key — a pure projection + 4-row explode
    over the wide signature row."""
    r = k // bands
    band_structs = []
    for b in range(bands):
        concat = F.concat_ws(":", *[F.col(f"m{b * r + j}").cast("string") for j in range(r)])
        band_structs.append(F.struct(F.lit(b).alias("band"), md5_long(concat).alias("band_hash")))
    return signatures.select("doc_id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    n: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """Near-dup pairs: LSH candidate generation + exact Jaccard verification.

    Candidates = doc pairs sharing any band bucket, generated by ONE
    shuffle — group buckets by (band, band_hash), emit the in-bucket pair
    combinations (bucket populations are small by construction; a bucket
    over ``max_bucket`` docs is dropped, the standard LSH mega-bucket
    guard: B docs in one bucket means B²/2 candidates, and a population
    that homogeneous is exact-dedup's job, not MinHash's — the oracle
    applies the identical cap).  Verification joins the candidates back
    to the hashed shingle table (candidate-driven — the exact Jaccard
    join touches only candidate pairs, not all pairs).
    Returns (doc_id_a, doc_id_b, jaccard >= threshold).

    The shared branch (hashed shingles feed the signature path and three
    verify joins) is persisted only for the duration of the call: the
    result is materialized via ``localCheckpoint(eager=True)`` while the
    cache is hot, then released in a ``finally`` — repeated invocations
    must not strand MEMORY_AND_DISK entries in the session (round-4
    leak).  At production scale this branch would be a checkpointed
    table between pipeline stages.
    """
    from pyspark import StorageLevel

    # hash the shingle table ONCE and persist the (doc_id, h) longs: the
    # signature path and the verify path share one shingle build AND one
    # md5 pass, and every downstream join/shuffle carries 8-byte keys
    # instead of shingle strings (48-bit h; a within-pair collision would
    # need ~2^24 shingles per doc, and the oracle hashes identically)
    sh = shingle_table(docs, n=n).select("doc_id", md5_long48("shingle").alias("h")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        sigs = signatures_from_hashes(sh, k=k)
        buckets = minhash_band_buckets(sigs, bands=bands, k=k)
        pairs = _minhash_pairs_plan(buckets, sh, threshold, max_bucket=max_bucket)
        # materialize before releasing the input cache; the checkpointed
        # RDD is owned by the returned DataFrame and reclaimed by the
        # ContextCleaner when it goes out of scope (unlike CacheManager
        # entries, which live until an explicit unpersist)
        return pairs.localCheckpoint(eager=True)
    finally:
        sh.unpersist()


def _minhash_pairs_plan(
    buckets: DataFrame, sh: DataFrame, threshold: float, max_bucket: int = 1024
) -> DataFrame:
    """The lazy interior plan of :func:`minhash_lsh_pairs` — grouped-bucket
    candidates, candidate-driven exact Jaccard verify over the pre-hashed
    shingle table ``sh`` (doc_id, h).  Kept separate so tests/test_plans.py
    can pin its shape (the public function returns an already-materialized
    checkpoint whose explain shows only a scan).

    Candidate generation is ONE shuffle on (band, band_hash) + an in-bucket
    pair expansion, not a bucket self-join: grouping replaces the second
    shuffle and the persist the join's two branches would need.  The pair
    expansion is a higher-order-function lambda (interpreted, not codegen)
    — acceptable exactly here because it runs on the post-aggregation rows
    (one per non-singleton bucket, populations ≤ max_bucket), never on the
    corpus-sized shingle or bucket tables."""
    grouped = (
        buckets.groupBy("band", "band_hash")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    cand = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    "  filter(transform(ids, (y, j) ->"
                    "    IF(j > i, IF(x < y, struct(x AS a, y AS b), struct(y AS a, x AS b)), null)),"
                    "  s -> s IS NOT NULL)))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("doc_id_a"), F.col("p.b").alias("doc_id_b"))
        .distinct()
    )
    # per-doc set sizes are one row PER DOCUMENT — never broadcastable.
    # They ride the verify-join sides instead (plain hash join on doc_id,
    # the same key the candidate join shuffles on anyway) and fold through
    # the intersection groupBy as max(na)/max(nb) — the winnow shape.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    shn = sh.join(sizes, "doc_id")
    sa = shn.select(F.col("doc_id").alias("doc_id_a"), F.col("h").alias("sh_a"), F.col("n_shingles").alias("na"))
    sb = shn.select(F.col("doc_id").alias("sb_doc"), F.col("h").alias("sh_b"), F.col("n_shingles").alias("nb"))
    inter = (
        cand.join(sa, "doc_id_a")
        .join(sb, (F.col("doc_id_b") == F.col("sb_doc")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("inter"), F.max("na").alias("na"), F.max("nb").alias("nb"))
    )
    return (
        inter.select(
            "doc_id_a",
            "doc_id_b",
            (F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_neardup_pairs(
    docs: DataFrame, max_hamming: int = 3, n: int = 3, bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash near-dup pairs: (doc_id_a, doc_id_b, hamming <= max_hamming).

    Candidate generation by pigeonhole banding: split the 60-bit
    fingerprint into max_hamming+1 bands — any pair within the Hamming
    ball must agree on at least one whole band, so an equi-join per band
    finds all candidates without an all-pairs scan.  Verification is one
    codegen'd bit_count(a XOR b).  Same candidates-then-verify shape as
    MinHash-LSH, but for the bit-fingerprint metric.
    """
    n_bands = max_hamming + 1
    width = bits // n_bands
    fp = simhash_fingerprints(docs, n=n, bits=bits)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("band_val"),
        )
        for b in range(n_bands)
    ]
    banded = fp.select(
        "doc_id", F.col("simhash"), F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.band_val").alias("band_val"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("doc_id_a", "doc_id_b", ham.cast("int").alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def release_checkpoints(df: DataFrame) -> None:
    """Drop the blocks of every eager ``localCheckpoint`` that ``df``
    reads.  A local checkpoint is a persisted RDD outside the
    CacheManager, so ``unpersist`` cannot reach it, and in practice it
    outlives its DataFrame for the rest of the session.  Call this only
    once nothing will read ``df`` again: its rows are gone afterwards."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()  # noqa: SLF001
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id)
    where cluster_id = min doc_id in the component.  This is the step that
    turns pairwise similarity into an actionable keep-list (keep one doc
    per cluster).

    Iterative min-label propagation — the standard large-graph CC plan
    (alternating small joins, state = one label per node, converges in
    O(graph diameter) rounds; near-dup graphs are almost all tiny stars,
    so 2-3 rounds in practice).  Each round: label'(v) = min(label(v),
    min over neighbors u of label(u)).  Driver loop exits on fixpoint.

    What is materialized, and when it is released:

    - ``edges`` (both orientations of every pair, built in ONE pass over
      ``pairs``) is persisted and forced before the loop, so a lazy pair
      plan runs exactly once; the entry is released in a ``finally``.
    - each round's labels are computed once, by an eager
      ``localCheckpoint`` (which also truncates the lineage — without it
      each round's plan nests the previous one and deep components make
      analysis itself the bottleneck).  Convergence is tested on that
      checkpoint through its ``moved`` flag, so a round runs its label
      join once.  A round's checkpoint is released as soon as the next
      one is materialized; the returned frame owns the last round's
      (release it with :func:`release_checkpoints` when done).
    """
    from pyspark import StorageLevel

    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")),
                    F.struct(F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        edges.count()
        labels = edges.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
        prev = None  # the previous round's checkpoint, released once superseded
        for _ in range(max_iterations):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            labels = (
                labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
                .select(
                    "node",
                    F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
                    F.coalesce(F.col("nbr_label") < F.col("label"), F.lit(False)).alias("moved"),
                )
                .localCheckpoint(eager=True)
            )
            if prev is not None:
                release_checkpoints(prev)
            prev = labels
            if labels.where(F.col("moved")).limit(1).count() == 0:
                break
        return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
    finally:
        edges.unpersist()


def simhash_fingerprints(docs: DataFrame, n: int = 3, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): 60-bit SimHash per document.

    One shuffle on doc_id with 60 partial-aggregated bit sums; fingerprint
    assembled from sign bits.  Hamming-ball grouping on the fingerprint is
    then a cheap downstream exact groupBy.
    """
    sh = shingle_table(docs, n=n).select("doc_id", md5_long(F.col("shingle")).alias("h"))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"s{j}")
        for j in range(bits)
    ]
    agg = sh.groupBy("doc_id").agg(*bit_sums)
    fingerprint = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select("doc_id", fingerprint.alias("simhash"))


def segment_dedup(
    docs: DataFrame,
    seg_words: int = 10,
    max_df: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Line-level exact dedup (the RefinedWeb/CCNet pass): drop text
    SEGMENTS that recur across documents, keep the documents.

    Whole-document dedup misses boilerplate — headers, navigation, license
    blocks — that repeats across otherwise-distinct pages.  The standard
    pipeline pass splits each document into lines, hashes each line, and
    removes lines whose document frequency exceeds a cap.  This corpus has
    no newlines, so a "line" is a disjoint run of ``seg_words`` words —
    same operator shape, parameterized granularity.

    Plan: posexplode words (map-side) → one shuffle to assemble segments
    per (doc, seg index) → segment df counts on a 60-bit segment hash →
    ANTI-join against the over-cap boilerplate set, NO broadcast hint:
    boilerplate is the COMMON case in a crawl (headers, licenses,
    navigation repeat everywhere), so the df>cap set scales with the
    corpus — the anti-join keys both sides on seg_hash and reuses the df
    aggregate's exchange; AQE broadcasts at runtime when the set is
    small — → one shuffle to reassemble kept text in segment order.  The only higher-order-function
    lambdas run on post-aggregation arrays (≤ seg_words words, ≤ doc
    segment count), never on corpus-sized rows.

    Returns (doc_id, n_segments, n_kept, clean_text).
    """
    w = _spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    )
    seg = (
        w.groupBy("doc_id", F.floor(F.col("pos") / seg_words).alias("seg"))
        .agg(F.collect_list(F.struct("pos", "word")).alias("pw"))
        .select(
            "doc_id",
            "seg",
            F.array_join(F.expr("transform(array_sort(pw), s -> s.word)"), " ").alias("segment"),
        )
        .select("doc_id", "seg", "segment", md5_long(F.col("segment")).alias("seg_hash"))
    )
    boilerplate = (
        seg.groupBy("seg_hash")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") > max_df)
        .select("seg_hash")
    )
    kept = seg.join(boilerplate, "seg_hash", "left_anti")
    totals = seg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segments"))
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(F.collect_list(F.struct("seg", "segment")).alias("ss"))
        .select(
            "doc_id",
            F.size("ss").alias("n_kept"),
            F.array_join(F.expr("transform(array_sort(ss), s -> s.segment)"), " ").alias("clean_text"),
        )
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def repeated_span_dedup(
    docs: DataFrame,
    span: int = 10,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact repeated-substring dedup (the Lee et al. 2022 pass,
    "Deduplicating Training Data Makes Language Models Better"): remove
    every word position covered by a ``span``-word sequence that occurs
    ``min_count``+ times ANYWHERE in the corpus (cross-doc or within-doc).

    Unlike :func:`segment_dedup` (disjoint segments), this slides: any
    repeated run is caught at every offset, and overlapping repeats merge
    naturally through the covered-position union.  The reference paper
    builds a corpus-global suffix array; the equivalent candidates-then-
    cover Spark shape is:

    1. posexplode words (map-side);
    2. sliding shingles via ``span``-1 ``lead()`` columns over one window
       sort per doc — whole-stage-codegen, ONE shuffle of the word table
       (a suffix array would need a corpus-global sort; the fixed-span
       formulation needs only per-doc locality, which is the standard
       at-scale approximation);
    3. repeated = shingle-hash groupBy HAVING count >= min_count — second
       shuffle, on 8-byte keys;
    4. occurrences semi-join repeated (hash-keyed), explode the ≤span
       covered positions per occurrence (occurrences are the rare side);
    5. kept = words anti-join covered; reassemble per doc.

    Returns (doc_id, n_words, n_kept, clean_text).
    """
    w = _spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("word")] + [F.lead("word", i).over(win) for i in range(1, span)]
    sl = (
        w.select("doc_id", "pos", *[p.alias(f"w{i}") for i, p in enumerate(parts)])
        .where(F.col(f"w{span - 1}").isNotNull())
        .select("doc_id", "pos", md5_long(F.concat_ws(" ", *[f"w{i}" for i in range(span)])).alias("h"))
    )
    repeated = sl.groupBy("h").agg(F.count(F.lit(1)).alias("cnt")).where(F.col("cnt") >= min_count)
    occ = sl.join(repeated.select("h"), "h", "left_semi")
    covered = occ.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (span - 1))).alias("pos")
    ).distinct()
    kept = w.join(covered, ["doc_id", "pos"], "left_anti")
    totals = w.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(F.collect_list(F.struct("pos", "word")).alias("pw"))
        .select(
            "doc_id",
            F.size("pw").alias("n_kept"),
            F.array_join(F.expr("transform(array_sort(pw), s -> s.word)"), " ").alias("clean_text"),
        )
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def normalized_exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-exact duplicate groups after text normalization (the Dolma /
    Gopher "exact after canonicalization" pass): lowercase, strip
    non-alphanumerics to spaces, collapse whitespace — catching documents
    that differ only in case, punctuation, or spacing, which raw
    :func:`exact_dedup` treats as distinct.

    Still a pure map stage + one 8-byte-key shuffle: normalization is
    three codegen'd string expressions evaluated per row; the group key
    is the 60-bit hash of the canonical form, never the text.

    Returns (norm_hash, keep_doc_id, n_copies).
    """
    canon = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", " ")), " +", " "
    )
    return (
        docs.select(md5_long(canon).alias("norm_hash"), F.col(id_col))
        .groupBy("norm_hash")
        .agg(F.min(id_col).alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_recall_report(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Pair recall of MinHash-LSH against the exact n-gram Jaccard ground
    truth — the dedup-family counterpart of the ANN recall monitor: a
    pipeline that trusts LSH to find its near-dups should measure, on a
    sample, what fraction of true pairs the banded index actually
    surfaces (band/row tuning drifts as document length distributions
    change).

    recall = |LSH pairs ∩ exact pairs| / |exact pairs| at the same
    threshold.  Both pair sets are tiny relative to the corpus (they ARE
    the near-dups), so the intersection is a broadcast semi-join and the
    one driver-side scalar is a count.

    Returns a single row (matched, total, recall).
    """
    # ngram_jaccard_pairs returns its pairs materialized, so `total` and
    # the broadcast semi-join below are two cheap reads of one
    # checkpoint, never two runs of the shingle-Jaccard pipeline.  The
    # checkpointed rows are the bounded true near-dup pair set, never the
    # corpus.
    exact = ngram_jaccard_pairs(docs, threshold=threshold, n=n, max_shingle_df=max_shingle_df).select(
        "doc_id_a", "doc_id_b"
    )
    total = exact.count()  # bounded: the true near-dup pair set
    # re-state the bound ON the checkpointed plan: a checkpoint scan
    # alone is an uncertified ExistingRDD to the broadcast gate
    # (fuzzy_recall_report's certificate shape); limit(total) over a
    # frame with exactly `total` rows keeps every row
    exact = exact.limit(total)
    lsh = minhash_lsh_pairs(docs, threshold=threshold, n=n).select("doc_id_a", "doc_id_b")
    matched = lsh.join(F.broadcast(exact), ["doc_id_a", "doc_id_b"], "left_semi")
    # empty ground truth → recall NULL on both engines (oracle: NULLIF),
    # never a 0/0 whose NULL-vs-NaN rendering diverges across engines
    denom = F.lit(None).cast("double") if total == 0 else F.lit(float(total))
    return matched.agg(
        F.count(F.lit(1)).alias("matched"),
        F.lit(total).cast("long").alias("total"),
        (F.count(F.lit(1)).cast("double") / denom).alias("recall"),
    )


WINNOW_OVERLAP_THRESHOLD = 0.4
MAX_WINNOW_FP_DF = 100  # stop-fingerprint cap (same role as MAX_SHINGLE_DF)
# broadcast guard: frequent-fingerprint sets above this row count fall
# back to a shuffle anti-join (1M x 8B longs ~ 8 MB broadcast payload —
# comfortably under executor/driver headroom; beyond it the zipfian
# smallness assumption has already failed)
MAX_BROADCAST_FREQ_FPS = 1_000_000


def winnow_overlap_pairs(
    docs: DataFrame,
    threshold: float = WINNOW_OVERLAP_THRESHOLD,
    max_fp_df: int = MAX_WINNOW_FP_DF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Partial-overlap document pairs via the winnowing fingerprint index
    — the cross-document complement of :func:`~.text_analysis.
    winnow_fingerprints`: any pair sharing a substring of >= k+w-1 chars
    shares a fingerprint, so quote chains, boilerplate wrappers, and
    partially-copied documents surface even when whole-document n-gram
    Jaccard stays low (a 30%-copied doc has Jaccard ~0.18 but overlap
    ~1.0 on the copied span's fingerprints).

    overlap = |shared fingerprints| / min(|fps_a|, |fps_b|) — the
    containment-style ratio, computed over the RARE-fingerprint universe
    (fingerprints in more than ``max_fp_df`` docs are dropped first, the
    stop-shingle rule: a fingerprint in B docs yields B^2/2 candidate
    pairs, and one that common is boilerplate vocabulary, not evidence).

    Scale shape: the winnow index holds ~|doc|/w entries per document —
    w-fold smaller than a full shingle inverted index at the SAME
    substring-match guarantee — and candidates come from one equi-join
    on the 60-bit fingerprint with join fanout bounded by the df cap;
    per-doc sizes ride the fingerprint rows into the pair aggregate
    (max(na)/max(nb) in the same groupBy), so the corpus-sized size
    table is never joined to anything downstream.  Returns
    (doc_id_a, doc_id_b, shared, overlap).
    """
    from .text_analysis import winnow_fingerprints

    fp = winnow_fingerprints(docs, text_col=text_col, id_col=id_col)
    # drop stop-fingerprints via a broadcast ANTI-join against the tiny
    # FREQUENT set (df > cap; heavy-hitter-capped aggregate — zipfian
    # data keeps it kilobytes at any corpus size), never a semi-join
    # against the near-universal RARE set — the same shape as
    # _shingle_pair_overlaps' df-cap above (round-9: was one
    # |all-fingerprints|-sized shuffle join heavier than its sibling)
    frequent = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_fp_df)
    )
    # broadcast GUARD (review r9): |frequent| <= total_fps / max_fp_df is
    # only small under the zipfian assumption — a flat fingerprint
    # distribution (adversarial or synthetic corpora) makes it linear in
    # the corpus and a mandatory broadcast would OOM the driver where the
    # shuffle anti-join is size-safe.  Probe the size with a bounded
    # limit(K+1).count() (result capped at K+1 rows regardless of corpus)
    # and fall back to the shuffle anti-join above the threshold; the
    # probe re-runs the partial-agg'd fingerprint aggregate once, a
    # bounded-output pass that is cheap next to the pair join downstream.
    freq_fps = frequent.select("fp")
    n_freq = freq_fps.limit(MAX_BROADCAST_FREQ_FPS + 1).count()
    anti_side = (
        F.broadcast(freq_fps) if n_freq <= MAX_BROADCAST_FREQ_FPS else freq_fps
    )
    fpr = fp.join(anti_side, "fp", "left_anti")
    sizes = fpr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    fpn = fpr.join(sizes, "doc_id")  # hash join on doc_id, reuses sizes' exchange
    a = fpn.select(
        F.col("fp"), F.col("doc_id").alias("doc_id_a"), F.col("n").alias("na")
    )
    b = fpn.select(
        F.col("fp"), F.col("doc_id").alias("doc_id_b"), F.col("n").alias("nb")
    )
    shared = (
        a.join(b, "fp")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("shared"), F.max("na").alias("na"), F.max("nb").alias("nb"))
    )
    overlap = F.col("shared").cast("double") / F.least("na", "nb").cast("double")
    return shared.select(
        "doc_id_a", "doc_id_b", "shared", overlap.alias("overlap")
    ).where(F.col("overlap") >= threshold)


def corpus_dedup_report(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document verdict matrix across the DEDUP family — the QA
    artifact mirroring :func:`curation.filter_report` for duplication:
    one row per doc with each method's would-remove flag and the method
    count, so a pipeline run can publish "what fraction is duplicated,
    by which detector, and how much the detectors disagree" (exact
    misses paraphrases, Jaccard misses partial copies, winnow catches
    containment — the disagreement IS the signal for threshold tuning).

    Flags (all "would this method remove the doc", keeping min-id
    representatives): exact_dup — a smaller doc has the identical text
    hash; jaccard_dup — appears as the larger id of an n-gram Jaccard
    pair at/above ``jaccard_threshold``; winnow_dup — the larger id of
    a winnow partial-overlap pair.  n_methods counts the flags.

    Plan: three independent pair/group pipelines (each already
    scale-audited as its own operator) reduced to near-dup-sized id
    sets, then two shuffle left joins back onto the per-doc exact flags
    — the corpus is scanned once per method, never cross-joined.
    """
    hashed = docs.select(md5_long(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("doc_id"))
    groups = exact_dedup(docs, text_col=text_col, id_col=id_col)
    exact_fl = hashed.join(groups, "text_hash").select(
        "doc_id",
        ((F.col("n_copies") > 1) & (F.col("doc_id") != F.col("keep_doc_id"))).alias("exact_dup"),
    )
    jac = (
        ngram_jaccard_pairs(docs, threshold=jaccard_threshold, text_col=text_col, id_col=id_col)
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
        .withColumn("_j", F.lit(True))
    )
    win = (
        winnow_overlap_pairs(docs, text_col=text_col, id_col=id_col)
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
        .withColumn("_w", F.lit(True))
    )
    out = (
        exact_fl.join(jac, "doc_id", "left")
        .join(win, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup",
            F.coalesce(F.col("_j"), F.lit(False)).alias("jaccard_dup"),
            F.coalesce(F.col("_w"), F.lit(False)).alias("winnow_dup"),
        )
    )
    n = (
        F.col("exact_dup").cast("int")
        + F.col("jaccard_dup").cast("int")
        + F.col("winnow_dup").cast("int")
    )
    return out.withColumn("n_methods", n.cast("int"))


def source_dup_matrix(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Cross-source duplicate-leakage matrix: for every unordered source
    pair, how many duplicate-content families span both sources and how
    many duplicate document pairs that is — the provenance-level view of
    dedup (a high (web, books) cell means one slice is re-hosting the
    other; a hot diagonal means a crawler re-fetched its own corpus).
    This is the artifact mixture decisions read, since cross-source
    leakage double-counts a slice's effective weight.

    Families are keyed by the :func:`prefix_dedup` content key (hash of
    the first PREFIX_DEDUP_CHARS chars, eligibility len >= that) rather
    than the whole-text hash: truncation chains — the same page cut at
    different lengths by different crawls — are exactly the duplication
    that leaks ACROSS sources, and whole-text equality misses all of it.

    Plan: one map-side 60-bit prefix hash → (hash, source) counts [1
    shuffle, partial-agg'd]; the within-hash self-join pairs AGGREGATED
    per-source rows, so its fanout per hash is bounded by |sources|^2
    (a handful), never group size; one final pair-keyed aggregate.
    Duplicate-pair math is exact integers (n_a*n_b cross, C(n,2)
    diagonal).

    Output: (source_a, source_b, n_dup_groups, n_doc_pairs) with
    source_a <= source_b and n_doc_pairs > 0.
    """
    per = (
        docs.where(F.length(F.col(text_col)) >= PREFIX_DEDUP_CHARS)
        .select(
            md5_long(F.substring(F.col(text_col), 1, PREFIX_DEDUP_CHARS)).alias("th"),
            F.col("source"),
        )
        .groupBy("th", "source")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a = per.select(F.col("th"), F.col("source").alias("source_a"), F.col("cnt").alias("cnt_a"))
    b = per.select(F.col("th"), F.col("source").alias("source_b"), F.col("cnt").alias("cnt_b"))
    pairs = a.join(b, "th").where(F.col("source_a") <= F.col("source_b"))
    doc_pairs = F.when(
        F.col("source_a") == F.col("source_b"),
        F.expr("(cnt_a * (cnt_a - 1)) div 2"),
    ).otherwise(F.col("cnt_a") * F.col("cnt_b"))
    return (
        pairs.select("source_a", "source_b", doc_pairs.alias("dp"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum((F.col("dp") > 0).cast("long")).alias("n_dup_groups"),
            F.sum("dp").alias("n_doc_pairs"),
        )
        .where(F.col("n_doc_pairs") > 0)
    )


# fuzzy-join banding: 3 x 12-char segments over a 36-char normalized prefix.
FUZZY_PREFIX_CHARS = 36
FUZZY_BANDS = 3
FUZZY_BAND_CHARS = FUZZY_PREFIX_CHARS // FUZZY_BANDS
FUZZY_MAX_BUCKET = 1024  # mega-bucket guard, same rule as minhash/phash


def fuzzy_edit_pairs(
    docs: DataFrame,
    max_dist: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = FUZZY_MAX_BUCKET,
) -> DataFrame:
    """Entity-resolution fuzzy join: document pairs whose normalized
    36-char prefixes are within Levenshtein distance ``max_dist`` —
    the record-linkage pass (near-identical titles/boilerplate headers
    that hash dedup misses because one character differs) built as
    banded candidate generation + exact edit-distance verify.

    Blocking is positional q-gram banding: the prefix splits into 3
    fixed 12-char segments and candidates are pairs sharing ANY segment
    at the same position.  Pigeonhole: substitution-only edits <= 2
    leave at least one segment exact, so recall is 1.0 there; an INDEL
    shifts the alignment of every later segment, so indel-heavy pairs
    can be missed — the same honest limitation the fixed-grid pHash
    banding documents, and why this complements (not replaces) the
    shingle-Jaccard path.  Documents shorter than 36 normalized chars
    are excluded (truncation chains are dedup_prefix's job).

    Scale shape (the pHash grouped-expansion plan): ONE shuffle on
    (band_idx, band_val) with buckets over ``max_bucket`` dropped —
    boilerplate prefixes that shared are exact-dedup's job, and the
    oracle applies the identical cap — then in-bucket pair expansion on
    post-aggregation rows only and the O(36^2) levenshtein verify on
    candidates, never all-pairs.  Verify is JVM-side (built-in
    levenshtein), map-only after the expansion.
    """
    return _fuzzy_pairs_from_prefixes(
        fuzzy_prefix_table(docs, text_col=text_col, id_col=id_col),
        max_dist=max_dist,
        max_bucket=max_bucket,
    )


def fuzzy_prefix_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pfx): the normalized 36-char prefix of every document
    long enough to carry one — the shared input of the fuzzy join and
    its recall monitor."""
    canon = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", " ")), " +", " "
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.substring(canon, 1, FUZZY_PREFIX_CHARS).alias("pfx"))
        .where(F.length("pfx") >= FUZZY_PREFIX_CHARS)
    )


def fuzzy_band_table(pfx: DataFrame) -> DataFrame:
    """(doc_id, pfx, band_idx, band_val): the 3 positional 12-char bands
    of each prefix — the blocking keys of the fuzzy join, also persisted
    as the probe surface of the incremental fuzzy ingest
    (streaming/incremental.ingest_increment_fuzzy)."""
    return pfx.select(
        "doc_id",
        "pfx",
        F.explode(F.sequence(F.lit(0), F.lit(FUZZY_BANDS - 1))).alias("band_idx"),
    ).select(
        "doc_id",
        "pfx",
        "band_idx",
        F.expr(f"substring(pfx, band_idx * {FUZZY_BAND_CHARS} + 1, {FUZZY_BAND_CHARS})").alias(
            "band_val"
        ),
    )


def _fuzzy_pairs_from_prefixes(
    pfx: DataFrame, max_dist: int, max_bucket: int = FUZZY_MAX_BUCKET
) -> DataFrame:
    """Banded candidates + levenshtein verify over a (doc_id, pfx) table
    — shared by :func:`fuzzy_edit_pairs` and the recall monitor so the
    mega-bucket guard applies on every path."""
    return fuzzy_pairs_from_bands(fuzzy_band_table(pfx), max_dist, max_bucket)


def fuzzy_pairs_from_bands(
    bands: DataFrame,
    max_dist: int,
    max_bucket: int = FUZZY_MAX_BUCKET,
    retired: DataFrame | None = None,
) -> DataFrame:
    """The fuzzy join's candidate expansion + verify over a prepared
    band table — factored out so the incremental ingest can run the
    IDENTICAL plan over (batch ∪ matching-history) bands, with
    ``retired`` (band keys whose cumulative occupancy crossed the cap in
    an earlier increment) anti-joined out of the probe surface."""
    grouped = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.collect_list(F.struct("doc_id", "pfx")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    if retired is not None:
        grouped = grouped.join(retired, ["band_idx", "band_val"], "left_anti")
    cand = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    "  filter(transform(ids, (y, j) ->"
                    "    IF(j > i,"
                    "       IF(x.doc_id < y.doc_id,"
                    "          struct(x.doc_id AS da, y.doc_id AS db, x.pfx AS pa, y.pfx AS pb),"
                    "          struct(y.doc_id AS da, x.doc_id AS db, y.pfx AS pa, x.pfx AS pb)),"
                    "       null)),"
                    "  s -> s IS NOT NULL)))"
                )
            ).alias("p")
        )
        .select(
            F.col("p.da").alias("doc_id_a"),
            F.col("p.db").alias("doc_id_b"),
            F.col("p.pa").alias("pa"),
            F.col("p.pb").alias("pb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_id_a",
            "doc_id_b",
            F.levenshtein("pa", "pb").cast("int").alias("edit_distance"),
        )
        .where(F.col("edit_distance") <= F.lit(max_dist))
    )


FUZZY_RECALL_SAMPLE = 1024


def fuzzy_recall_report(
    docs: DataFrame,
    max_dist: int = 4,
    sample_n: int = FUZZY_RECALL_SAMPLE,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = FUZZY_MAX_BUCKET,
) -> DataFrame:
    """Pair recall of the banded fuzzy join vs EXACT all-pairs
    levenshtein ground truth on a bounded sample — the fuzzy join's
    honest-recall monitor (minhash_recall_report's policy: every
    approximate candidate path publishes its measured recall next to
    its results).

    Ground truth needs all-pairs edit distance — quadratic by
    definition — so it runs on the first ``sample_n`` prefix-qualified
    docs by id (``orderBy + limit``: bounded BY CONSTRUCTION at any
    corpus size, the TakeOrdered certificate both plan gates accept).
    The banded side runs on the SAME sample, so the single report row
    isolates exactly the blocking losses (indel alignment shift,
    capped mega-buckets) the fuzzy join's docstring warns about.

    Output (1 row): matched, total, recall (one IEEE division —
    deterministic).
    """
    # materialize the 1024-row sample ONCE (the minhash-lsh eager
    # precedent): three consumers (a, b, banded) otherwise re-run the
    # corpus scan + top-k sort each, and three independent orderBy+limit
    # executions are only guaranteed consistent when doc_id is tie-free
    # the trailing .limit re-states the bound ON the checkpointed plan:
    # a checkpoint scan alone is an uncertified ExistingRDD to the
    # broadcast gate (round-9 tightening — bounded driver-local frames
    # must SAY so in the plan, the segment_dim shape)
    sample = (
        fuzzy_prefix_table(docs, text_col=text_col, id_col=id_col)
        .orderBy("doc_id")
        .limit(sample_n)
        .localCheckpoint(eager=True)
        .limit(sample_n)
    )
    # repartition the STREAMED side: the checkpointed sample is one
    # partition, so the BNLJ's ~sample_n^2/2 levenshtein verifies would
    # run in a single task — spreading the probe rows parallelizes the
    # quadratic kernel (the broadcast side stays the 1024-row sample).
    # Partition count follows the BOX (defaultParallelism), capped so no
    # task holds fewer than ~32 probe rows on tiny samples.
    n_probe_parts = max(
        1, min(docs.sparkSession.sparkContext.defaultParallelism, sample_n // 32)
    )
    a = sample.select(F.col("doc_id").alias("da"), F.col("pfx").alias("pa")).repartition(
        n_probe_parts
    )
    b = sample.select(F.col("doc_id").alias("db"), F.col("pfx").alias("pb"))
    exact = (
        a.join(b, F.col("da") < F.col("db"))
        .where(F.levenshtein("pa", "pb") <= max_dist)
        .select("da", "db")
    )
    banded = _fuzzy_pairs_from_prefixes(
        sample, max_dist=max_dist, max_bucket=max_bucket
    ).select(
        F.col("doc_id_a").alias("da"),
        F.col("doc_id_b").alias("db"),
        F.lit(1).alias("hit"),
    )
    # ONE pass over the truth: left-join the banded indicator and count
    # both sides in the same aggregate — the all-pairs join runs once
    # (not once per matched/total branch) and no report cross join
    return (
        exact.join(banded, ["da", "db"], "left")
        .agg(
            # outer coalesce: sum over ZERO truth pairs is NULL, the
            # oracle's COUNT(*) is 0 — keep the empty case hash-equal
            F.coalesce(F.sum(F.coalesce(F.col("hit"), F.lit(0))), F.lit(0)).alias(
                "matched"
            ),
            F.count(F.lit(1)).alias("total"),
        )
        .select(
            "matched",
            "total",
            (
                F.col("matched").cast("double")
                / F.nullif(F.col("total"), F.lit(0)).cast("double")
            ).alias("recall"),
        )
    )
