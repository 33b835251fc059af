"""Deduplication for training-data pipelines (engine extension;
SURVEY §7 north-star ops — no reference counterpart).

Five levels, cheapest first; each is the standard scale architecture:

- exact:        hash-groupBy on the raw text (one shuffle on a short
                digest, never on the document body)
- fingerprint:  groupBy on md5(normalized text) — catches
                whitespace/punct/case variants
- minhash_lsh:  shingle -> minhash signature -> band buckets ->
                candidate pairs join within buckets. All column
                expressions; the shingle hash is md5-derived, so any
                engine reproduces it (the oracle twin). The pair join
                (one banded self-join, :func:`_bucket_pairs`) only ever
                touches bucket-mates, which is what makes near-dup
                feasible at 100 TB, and no corpus-sized side is ever
                broadcast anywhere in this module.
- simhash:      60-bit (md5, oracle-reproducible) weighted-bit
                signature; near-dups = banded bucket-mates at small
                Hamming distance
- ngram_jaccard: exact Jaccard over word-shingle sets for candidate
                pairs (the verifier of the approximate stages), through
                the one set-similarity join, ``functions.setsim``
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_integration_and_harmonization_spark.functions import stores
from data_integration_and_harmonization_spark.functions.arrow import payload_stage
from data_integration_and_harmonization_spark.functions.concurrency import overlap
from data_integration_and_harmonization_spark.functions.setsim import jaccard_pairs
from data_integration_and_harmonization_spark.operators import graph as _graph
from data_integration_and_harmonization_spark.operators.text import TOKEN_RE, normalized, tokens

# minhash: h_i(x) = (a_i * base(x) + b_i) mod p — classic affine
# permutation family over a Mersenne prime. ``base`` is the shingle
# hash, md5-derived so the signature is reproducible in an external
# engine — md5 exists everywhere; murmur3 seeds don't.
_P = 2147483647

# SimHash signature width: 15 md5 hex chars, the widest slice that
# stays positive in a signed long (the slice the MinHash hash uses)
SIMHASH_BITS = 60


def _md5_long(col: Column) -> Column:
    """First 15 md5 hex chars = 60 bits, positive in a long; DuckDB
    mirrors this exactly as CAST('0x' || substr(md5(s),1,15) AS
    BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def word_shingles(toks: Column, gram: int = 3) -> Column:
    """Distinct word ``gram``-shingles of a token-array column.

    Shape matters: higher-order functions run interpreted, and a
    lambda that CAPTURES an outer expression re-evaluates it per
    element — the obvious ``transform(sequence(...), i ->
    concat(element_at(t, i), ...))`` form re-runs the whole regexp
    tokenizer for every shingle (measured 4x slower at sf0.1). Here
    the token array is consumed only as *arguments* to
    slice/arrays_zip — each evaluated once per row — and the lambda
    touches nothing but its own zipped element.

    ``toks`` must be a pre-staged token-array column: an inline
    ``tokens(...)`` regexp tree would be repeated at every reference
    below (2 per slice: the slice input and the length bound) —
    Catalyst does not CSE regexp trees, so the tokenizer would run
    ~2*gram times per row (r14, guide §1.2; the same trap r13 fixed in
    document_profile). Callers stage ``tokens(...)`` under an alias in
    a prior projection and pass that column here.
    """
    n = F.greatest(F.size(toks) - (gram - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, j + 1, n) for j in range(gram)])
    return F.array_distinct(
        F.transform(z, lambda x: F.concat_ws(" ", *[x[str(j)] for j in range(gram)]))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    gram: int = 3,
) -> DataFrame:
    """MinHash signatures as ONE exploded-aggregate pass: explode the
    shingle set to rows, hash each shingle exactly once, then
    compute all ``num_hashes`` permutation minima as plain codegen'd
    aggregates with map-side partial combine.

    (The tempting pure-column form — ``num_hashes`` nested
    ``array_min(transform(...))`` expressions — re-evaluates the whole
    tokenize->shingle->hash subtree per permutation because Catalyst
    collapses projections and doesn't CSE across lambda trees, and
    higher-order functions run interpreted. The exploded form is
    ~num_hashes× cheaper and is the shape that scales: shingle rows
    partial-aggregate locally, only (id, 32 longs) ever shuffles.)

    Output: (id, sig array<long>); docs with < ``gram`` tokens get an
    all-null-free empty signature via left join (sig = null).
    """
    # Fan out before the per-doc shingle/hash work: a single-file scan
    # is one partition and would serialize the whole pass.
    n = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")).repartition(n, "id")
    # Stage the tokenizer ONCE per row (r14): word_shingles references
    # its token array ~2*gram times, and unstaged each reference
    # inlines the full regexp_extract_all tree — CollapseProject keeps
    # a non-cheap multiply-referenced alias staged, so this projection
    # makes the tokenizer run once per document instead of ~6x.
    staged = src.select("id", tokens("t").alias("__tk"))
    # One md5 per shingle; permutations stay affine. Reduced mod P here
    # so the affine step (x * 63 max) cannot overflow a 64-bit signed
    # int — DuckDB errors on overflow where Spark's non-ANSI mode
    # silently wraps.
    ex = staged.select(
        "id", F.explode(word_shingles(F.col("__tk"), gram)).alias("s")
    ).select("id", (_md5_long(F.col("s")) % _P).alias("h"))
    aggs = [
        F.min((F.col("h") * (2 * i + 1) + (7 * i + 3)) % _P).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    sig = ex.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    gram: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs via banded LSH: split the signature
    into ``bands`` rows of ``num_hashes/bands``; docs sharing any
    band bucket (the concatenated band minima, so an external oracle
    can reproduce the candidate graph bit-for-bit) are candidates,
    through the one (band, bucket) self-join, :func:`_bucket_pairs`.

    Output: (id_a, id_b, n_shared_bands), id_a < id_b.
    """
    sig = minhash_signatures(df, text_col, id_col, num_hashes, gram)
    return _bucket_pairs(_banded_rows(sig, num_hashes, bands))


def _bucket_pairs(banded: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """The one (band, bucket) self-join under every banded candidate
    generator (MinHash LSH, SimHash/pHash Hamming, the incremental
    store's within-batch step): rows of ``banded`` (id, band, bucket,
    *carry) that meet in a bucket become one row per pair,
    (id_a, id_b, *{c}_a, *{c}_b, n_shared_bands) with id_a < id_b — a
    pair sharing k bands meets k times and the group-by collapses it.

    A shuffle equi-join on (band, bucket): per-bucket groups are tiny,
    so the quadratic blowup is local to real near-dup clusters, not the
    corpus; neither side is ever broadcast or collected. ``carry``
    names per-id columns the caller needs on both sides of the pair
    (they are functions of id, so grouping on them splits nothing)."""
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            *[F.col(f"l.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"r.{c}").alias(f"{c}_b") for c in carry],
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash per document: each distinct token votes its hash bit
    pattern; signature bit b is 1 iff the vote sum is positive.
    ``SIMHASH_BITS`` (60) wide, md5-derived so the oracle twin
    reproduces it.

    Same exploded-aggregate shape as :func:`minhash_signatures` — one
    token-row pass, ``bits`` codegen'd conditional-sum aggregates,
    map-side combinable; only (id, ``bits`` small ints) shuffles.

    Output: (id, sig long).
    """
    bits = SIMHASH_BITS
    n = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt")).repartition(n, "id")
    tok = src.select("id", F.explode(F.array_distinct(tokens("txt"))).alias("t"))
    ex = tok.select("id", _md5_long(F.col("t")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = ex.groupBy("id").agg(*votes)
    sig = None
    for b in range(bits):
        # shiftleft, not 2**b: 2**63 overflows a signed long literal
        bit = F.shiftleft(
            F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
            b,
        )
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return agg.select("id", sig.alias("sig"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: split each signature into ``bands``
    contiguous bit-bands; candidates share at least one exact band
    (pigeonhole: any pair within Hamming distance < ``bands`` is
    guaranteed a matching band), then the exact Hamming distance
    filters candidates to ``<= max_hamming``.

    Scale shape mirrors :func:`minhash_lsh_candidates`: the banded
    frame shuffles once on (band, bucket); the self-join only ever
    touches bucket-mates, so cost tracks true near-dup density —
    never all-pairs, and nothing corpus-sized is broadcast.
    ``max_bucket``: the hot-bucket guard, passed through to
    :func:`hamming_pairs` (see there for the recall trade).

    Output: (id_a, id_b, hamming), id_a < id_b.
    """
    sig = simhash_signatures(df, text_col, id_col)
    return hamming_pairs(
        sig,
        bits=SIMHASH_BITS,
        bands=bands,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def _banded_signatures(sig: DataFrame, bits: int, bands: int) -> DataFrame:
    """(id, sig, band, bucket) banding of a signature table — the
    shared front half of :func:`hamming_pairs` and
    :func:`hamming_bucket_report`. NULL signatures are dropped (they
    can match nothing); masking after the shift keeps band extraction
    correct for NEGATIVE signatures."""
    rpb = bits // bands
    mask = (1 << rpb) - 1
    sig = sig.where(F.col("sig").isNotNull())
    return sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sig", b * rpb)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")


def hamming_bucket_report(
    sig: DataFrame, bits: int = 64, bands: int = 4, top_n: int = 5
) -> DataFrame:
    """Hot-bucket diagnostic for the banded-Hamming self-join — run it
    BEFORE paying the shuffle: a (band, bucket) group of n signatures
    emits O(n^2) candidate pairs, so a constant-content corpus (solid
    images, silence -> sig 0) detonates quadratically in ONE bucket
    while staying invisible in row counts. Reuses
    :func:`..functions.skew.key_skew_report` over the banded keys:
    the top row's ``x_mean`` IS the skew factor, and its ``key``
    (``'band|bucket'``) names the bucket a ``max_bucket`` cap (or a
    corpus fix) should target. Cost: one grouped count."""
    from data_integration_and_harmonization_spark.functions.skew import key_skew_report

    return key_skew_report(_banded_signatures(sig, bits, bands), ["band", "bucket"], top_n)


def hamming_dropped_buckets(
    sig: DataFrame, max_bucket: int, bits: int = 64, bands: int = 4
) -> DataFrame:
    """(band, bucket, n) groups a ``max_bucket``-capped
    :func:`hamming_pairs` run SKIPPED — the flag side of
    cap-and-flag: pair generation stays bounded while this report
    makes the dropped candidates auditable instead of silent."""
    return (
        _banded_signatures(sig, bits, bands)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > max_bucket)
    )


def hamming_pairs(
    sig: DataFrame,
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded-Hamming self-join over any (id, sig) signature table —
    the shared candidate machinery under text SimHash
    (:func:`simhash_pairs`) and media perceptual-hash near-dup (over
    :func:`media_signature_table`): split each signature into ``bands``
    contiguous bit-bands, candidates share at least one exact band
    (pigeonhole: any pair within Hamming distance < ``bands`` is
    guaranteed a matching band), exact ``bit_count(xor)`` filter after.

    NULL signatures (e.g. undecodable payloads) are dropped before
    banding — they can match nothing (banding details:
    :func:`_banded_signatures`). Output: (id_a, id_b, hamming),
    id_a < id_b.

    ``max_bucket`` is the hot-bucket GUARD: a (band, bucket) group of
    n signatures self-joins into O(n^2) candidates, so a degenerate
    corpus (all-identical content) detonates in one bucket. With the
    cap set, groups larger than ``max_bucket`` are skipped (one
    window count over the banded keys — same shuffle key the join
    pays anyway) and reported by :func:`hamming_dropped_buckets`;
    a pair whose EVERY matching band is capped is lost, so the exact
    pigeonhole recall guarantee holds only for the uncapped default.
    Run :func:`hamming_bucket_report` first to see whether a corpus
    needs the cap at all."""
    banded = _banded_signatures(sig, bits, bands)
    if max_bucket is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("_bn", F.count(F.lit(1)).over(w))
            .where(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    cand = _bucket_pairs(banded, ("sig",))
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def media_signature_table(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(id, kind, sig) perceptual signatures over a MIXED media corpus
    in ONE Arrow stage, dispatched by sniffed format: still images
    (PNG/JPEG/single-frame GIF) hash with the DCT pHash
    (``media_codecs.phash64``), WAV audio with the spectral
    band-energy fingerprint (``media_codecs.audio_simhash64``), and
    VIDEO (Y4M / animated GIF) with the temporal-average pHash
    (``media_codecs.video_phash64``). kind marks the modality so pair
    joins stay WITHIN it — a 64-bit image hash colliding with a
    64-bit audio hash is coincidence, not similarity. Undecodable or
    unfingerprintable payloads ride with kind/sig NULL.

    The near-dup recipe per modality is the same downstream machinery:
    ``hamming_pairs`` over the kind's subset, then
    :func:`duplicate_clusters` — with this stage, every modality the
    engine decodes (text has :func:`simhash_pairs`) shares one
    near-dup pipeline."""
    from data_integration_and_harmonization_spark.functions import media_codecs as MC

    src = media.select(
        F.col(id_col).cast("long").alias("id"), F.col(payload_col).alias("payload")
    )
    # single-decode dispatch: a GIF is decoded ONCE and routed by frame
    # count (animated -> video hash, single-frame -> image hash)
    return payload_stage(
        src, ["id"], lambda p: [MC.media_signature(p)], "id long, kind string, sig long"
    )


def _unionfind_clusters(rows, id_a: str, id_b: str) -> list[tuple]:
    """Driver-side exact connected components (union-find with path
    halving + union by attaching the larger root id under the smaller,
    so the representative IS the component minimum)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]  # path halving
            r = parent[r]
        return r

    for row in rows:
        a, b = row[id_a], row[id_b]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # larger root under smaller -> root = min id
    return [(n, find(n)) for n in parent]


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair table: the step that
    turns pairwise matches into "keep one per cluster" decisions.

    Size-adaptive, the same way Spark picks broadcast vs shuffle
    joins: the verified pair graph is typically tiny relative to the
    corpus (it scales with the number of REAL near-duplicates), so
    when it has <= ``driver_max_edges`` pairs the exact answer comes
    from one collect + driver-side union-find — a handful of jobs
    instead of O(diameter) shuffle rounds. Above the threshold, the
    distributed path below takes over; both produce identical labels
    (component minimum), pinned by tests running the two paths on the
    same graph.

    Distributed path — iterative min-label propagation: every node
    starts labeled with itself; each round a node takes the minimum
    label among itself and its neighbors. Converges in O(component
    diameter) rounds — for near-dup graphs components are small and
    dense, so this beats the constant-factor overhead of
    large-star/small-star (which wins on long-chain graphs).

    Scale shape per round: one equi-join of edges against labels on
    the node id and one min-groupBy — both shuffle on id. Each round's
    labels are ``localCheckpoint``-ed (eager): iterative self-referential
    plans MUST truncate lineage per round — a persist alone keeps the
    full nested logical plan, and Catalyst re-analysis grows
    super-linearly with rounds (observed: heap exhaustion by ~10
    rounds on a 16-edge graph). Previous rounds' checkpoint blocks are
    released by the ContextCleaner once unreferenced, so peak storage
    is ~2 label frames of (id, lbl) longs. localCheckpoint is not
    executor-loss tolerant; long-running production jobs on
    preemptible clusters should swap in reliable ``checkpoint()`` with
    a checkpoint dir.

    Output: (id, cluster_id) for every node that appears in ``pairs``;
    cluster_id is the component's minimum id.
    """
    spark = pairs.sparkSession
    # Null ids would silently vanish in the distributed path (join on
    # a null key matches nothing) but TypeError in the driver-side
    # union-find (None < int) — drop them up front so both paths share
    # one defined behavior: a null endpoint is not a node.
    pairs = pairs.where(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
    # Materialize the pair table ONCE (the producer is typically the
    # whole LSH propose+verify pipeline — it must not re-execute for
    # the size probe, the symmetrize, and every loop round).
    base = pairs.select(id_a, id_b).persist()
    # r13 note (tried and REVERTED): fusing the size probe and the
    # collect into one `limit(max_edges+1).collect()` measured SLOWER
    # (dedup_clusters min-of-6 A/B: 11.4 s fused vs 7.6 s
    # count-then-collect). CollectLimit's executeTake runs several
    # incremental scale-up jobs (1, 4, 16... partitions) instead of
    # one full pass, serializing extra job rounds on every CC call and
    # leaving the persisted pair table partially materialized for the
    # next consumer. count() materializes the cache in ONE fully
    # parallel pass; the follow-up collect reads the cache.
    n_pairs = base.count()
    if n_pairs <= driver_max_edges:
        try:
            id_type = base.schema[id_a].dataType
            rows = _unionfind_clusters(base.collect(), id_a, id_b)
        finally:
            # without the finally a failed collect/union-find leaks the
            # persisted frame for the session lifetime
            base.unpersist(False)
        schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("cluster_id", id_type)]
        )
        return spark.createDataFrame(rows, schema)
    # symmetrize via explode, NOT union(fwd, reversed): a union holds
    # the upstream plan twice; explode emits both directions in one
    # pass over one branch (here: over the persisted pair table).
    edges0 = base.select(
        F.explode(
            F.array(
                F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    n_edges = 2 * n_pairs
    # Size the loop's partitioning to the pair graph, not the session
    # default: verified near-dup pair sets are typically tiny relative
    # to the corpus, and every extra empty partition is a scheduled
    # task PER ITERATION. ~100k edges per partition; fans out for
    # genuinely huge pair graphs.
    n = max(1, min(spark.sparkContext.defaultParallelism, n_edges // 100_000 + 1))
    try:
        # explicit repartition(n, ...) pins the loop's parallelism; the
        # groupBy exchanges inside the loop stay on the session default
        # and AQE's runtime coalescing shrinks them to the data — no
        # session-global conf is touched (a previous version flipped
        # spark.sql.shuffle.partitions here, which a concurrent query
        # in the same session would have observed).
        edges = edges0.repartition(n, "src").localCheckpoint(eager=True)
        labels = (
            edges.select(F.col("src").alias("id"))
            .distinct()
            .repartition(n, "id")
            .withColumn("lbl", F.col("id"))
            .localCheckpoint(eager=True)
        )
        # min-label propagation only ever LOWERS a label, so the label
        # sum is strictly decreasing until the fixpoint — convergence
        # is one agg per round, no old-vs-new join needed.
        prev_sum, converged = None, False
        for _ in range(max_iter):
            prop = edges.join(labels, edges["src"] == labels["id"]).select(
                F.col("dst").alias("id"), "lbl"
            )
            new = (
                labels.select("id", "lbl")
                .union(prop)
                .repartition(n, "id")
                .groupBy("id")
                .agg(F.min("lbl").alias("lbl"))
                .localCheckpoint(eager=True)
            )
            cur_sum = new.agg(F.sum("lbl")).collect()[0][0]
            labels = new
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
        if not converged:
            # returning intermediate labels would silently split one
            # true component into several clusters — fail loudly; the
            # caller raises max_iter (rounds needed = component
            # diameter, so 20 covers any realistic near-dup graph).
            raise RuntimeError(
                f"duplicate_clusters did not converge within max_iter={max_iter} "
                "propagation rounds; raise max_iter (graph has a component with "
                "diameter >= max_iter)"
            )
    finally:
        base.unpersist(False)
    return labels.select("id", F.col("lbl").alias("cluster_id"))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one group per distinct text; keep the minimum id.
    Groups on md5(text) so the shuffle key is 16 bytes, not the body.
    Output: (text_fp, n_copies, keep_id)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_fp"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id"))
    )


def fingerprint_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Normalized-fingerprint dedup: groups case/whitespace/punct
    variants. Output: (fp, n_copies, keep_id)."""
    return (
        df.groupBy(F.md5(normalized(text_col)).alias("fp"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id"))
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = False,
) -> DataFrame:
    """Batch-over-batch dedup against a persisted fingerprint store —
    the shape a continuously-ingesting corpus pipeline needs: each
    arriving batch is deduped (a) within itself (keep the minimum id
    per fingerprint) and (b) against EVERY previously-admitted
    document, without ever rereading the old corpora: the store holds
    16-byte md5 fingerprints only, ~1/1000th of the text it stands
    for.

    Plan shape: one groupBy on the fingerprint (within-batch), one
    left-anti join against the store's fingerprint column (history) —
    both shuffle on the digest, nothing corpus-sized is broadcast, and
    the store read is a plain parquet scan that partition-prunes like
    any other.

    SIDE EFFECT: the survivors' fingerprints are written to a NEW
    data dir of the store and committed (:mod:`..functions.stores`)
    before returning, so the next batch sees them. The write is
    distributed (executor-side parquet). The history read captures
    the EXPLICIT dir list of the head it matched against, so
    re-executing the returned plan after this batch's own commit
    cannot anti-join the batch against itself. Of two batches matched
    against the same head only one commits; the other raises
    ``CommitConflictError`` rather than admitting duplicates the
    winner holds. Returns the surviving rows of ``new_docs``
    (original columns).

    ``normalize=True`` fingerprints the :func:`~.text.normalized`
    form, admitting only one case/whitespace/punct variant corpus-wide.
    """
    spark = new_docs.sparkSession
    # md5(NULL) is NULL and a null key matches nothing in the keep
    # join / anti-join — a sentinel keeps null-text docs as ONE
    # dedup group (first one admitted corpus-wide) instead of
    # silently dropping them all
    fp_expr = F.coalesce(
        F.md5(normalized(text_col) if normalize else F.col(text_col)),
        F.lit("__null_text__"),
    )
    fresh = new_docs.withColumn("__fp", fp_expr)
    # (a) within-batch: keep the minimum id per fingerprint
    keep = fresh.groupBy("__fp").agg(F.min(id_col).alias("__keep"))
    fresh = fresh.join(keep, "__fp").where(F.col(id_col) == F.col("__keep")).drop("__keep")
    # (b) against history: anti-join the digests of every batch the
    # store's head lists
    doc = stores.head(spark, store_path)
    batches = [f["path"] for f in doc["files"]]
    if batches:
        seen = spark.read.parquet(*batches)
        fresh = fresh.join(seen.select(F.col("fp").alias("__fp")), "__fp", "left_anti")
    # admit the survivors for the next batch; persist so the write and
    # the caller's consumption compute the survivor set once
    from data_integration_and_harmonization_spark.functions.caching import track

    fresh = track(fresh.persist())
    out_dir = stores.new_dir(store_path, doc)
    fresh.select(F.col("__fp").alias("fp")).write.parquet(out_dir)
    stores.commit(
        spark, store_path, doc, doc["files"] + [{"path": out_dir, "tag": None}]
    )
    return fresh.drop("__fp")


def _banded_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) rows from an (id, sig) signature frame —
    the banding step of :func:`minhash_lsh_candidates`, factored out
    so the incremental store path bands the SAME way. The bucket is
    the band's minima joined with '|'."""
    rows_per_band = num_hashes // bands

    def bucket_of(b: int) -> Column:
        cols = [F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
        return F.concat_ws("|", *[c.cast("string") for c in cols])

    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bucket_of(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def _sig_agreement(a: Column, b: Column, num_hashes: int) -> Column:
    """Estimated Jaccard from two MinHash signatures: the fraction of
    agreeing components (the unbiased MinHash estimator). Pure
    higher-order column math — runs only on LSH candidate pairs."""
    agree = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return agree / F.lit(float(num_hashes))


def incremental_near_dedup(
    new_docs: DataFrame,
    store_path: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    gram: int = 3,
    store_partitions: int = 8,
    tag: str | None = None,
) -> DataFrame:
    """Batch-over-batch NEAR-duplicate dedup against a persisted
    SIGNATURE store — the fuzzy sibling of
    :func:`incremental_exact_dedup`, and the shape a continuously
    ingesting pretraining pipeline actually needs (new crawl snapshots
    are near-dups of old ones far more often than byte-dups).

    The store holds only (id, 32-long MinHash signature) per admitted
    doc — ~256 bytes standing for any document size; old TEXT is never
    reread. Matching is banded LSH candidates + the estimated-Jaccard
    MinHash estimator (fraction of agreeing components) — estimated,
    not exact, which is exactly the store-only trade: exact
    verification would require the old text.

    Per batch: (a) within-batch near-dup components
    (:func:`duplicate_clusters` over the batch's estimated pairs) keep
    the min id; (b) surviving keepers whose signature matches ANY
    admitted doc at ``threshold`` are dropped; (c) survivors'
    signatures are committed to the store as a new data dir (same
    commit protocol and recompute-stability as the exact variant; a
    batch that admits nothing commits nothing). Docs too short to
    shingle (< gram tokens) have no signature: always admitted, never
    stored — they cannot near-dup anything at signature granularity.

    Scale shape: signatures are one exploded aggregate; candidates are
    (band, bucket) equi-joins (bucket groups are near-dup-cluster
    sized, never corpus-sized). Each data dir holds TWO tables (r9
    verdict item 4):

    - ``sigs/``  — (id, sig), the 256-byte standing record;
    - ``index/`` — pre-banded (bucket, id) rows PARTITIONED BY
      (band, pbucket = bucket mod ``store_partitions``).

    History matching reads the index with the new batch's collided
    (band, pbucket) set pushed as a PARTITION filter (the set is
    bounded by bands x store_partitions, collected once — never
    corpus-sized), so a small increment against years of history
    physically opens only colliding bucket directories instead of
    scanning — and re-banding — every admitted signature per batch.
    ``store_partitions`` MUST stay constant for the life of a store
    (the prune keys are computed with the caller's value and must
    match the directory layout every earlier batch wrote); the
    default 8 keeps per-batch file counts small at validation scale —
    a production store at 10^10+ docs sets 256-4096 so each pruned
    directory stays worker-sized. The sigs scan that feeds the
    estimator verify touches only candidate ids via the join
    (digest-width rows, id-sorted files for row-group skipping).
    Nothing corpus-sized is collected or broadcast.

    ``tag`` makes the admit IDEMPOTENT per logical batch — the
    contract a streaming ``foreachBatch`` maintenance consumer needs
    (:func:`..sources.cdf_stream.stream_cdf_neardedup_maintenance`):
    the committed entry carries the tag, and a replay whose tag the
    head already lists EXCLUDES that dir from the history it
    matches against and skips the store write — recomputing exactly
    the original run's survivors without doubling the store. Replays
    are only well-defined for the LAST admitted batch (streaming's
    crash window); replaying an older tag after later batches landed
    would see history the original run didn't.

    Returns the surviving rows of ``new_docs`` (original columns).
    """
    import os

    from data_integration_and_harmonization_spark.functions.caching import track

    spark = new_docs.sparkSession
    sig = track(
        minhash_signatures(new_docs, text_col, id_col, num_hashes, gram).persist()
    )
    # (a) within-batch components over estimated near-dup pairs
    cand = _bucket_pairs(_banded_rows(sig, num_hashes, bands))
    sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .where(
            _sig_agreement(F.col("sig_a"), F.col("sig_b"), num_hashes)
            >= F.lit(threshold)
        )
        .select("id_a", "id_b")
    )
    # history prep BEFORE the in-batch clustering (r14): the head
    # read / replay filtering is jobless FS work, and the collided
    # partition-key probe below only needs the batch's signatures —
    # so it runs on a driver thread CONCURRENTLY with the in-batch
    # component chain (guide §2.6) instead of as a sequential action
    # after it. A replay matches against history WITHOUT its own prior
    # admit and skips the write — same survivors, no double-count.
    doc = stores.head(spark, store_path)
    batches = [f["path"] for f in doc["files"] if tag is None or f["tag"] != tag]
    replayed = len(batches) < len(doc["files"])
    P = int(store_partitions)
    # bucket is a string key — hash to a stable int before the mod
    pb = lambda c: F.pmod(F.xxhash64(c), F.lit(P))  # noqa: E731

    def _keys():
        if not batches:
            return None
        # the batch's collided partition set, computed from ALL of the
        # batch's signatures rather than the post-dedup keepers: a
        # SUPERSET of the keepers' key set, so the pruned index read
        # admits every directory the join needs (results are identical
        # — the join itself still pairs only keeper rows); the superset
        # costs at most a few extra directory opens and buys the probe
        # independence from the component chain, so the two run
        # concurrently. Still bounded by bands x store_partitions,
        # never by batch or corpus size.
        all_banded = _banded_rows(sig, num_hashes, bands).withColumn(
            "pbucket", pb(F.col("bucket"))
        )
        _k = (F.col("band") * P + F.col("pbucket")).alias("k")
        return [r["k"] for r in all_banded.select(_k).distinct().collect()]

    def _keepers():
        comp = duplicate_clusters(pairs)  # (id, cluster_id); members only
        dominated = comp.where(F.col("id") != F.col("cluster_id")).select("id")
        return sig.join(dominated, "id", "left_anti")

    keys, keep_sig = overlap(_keys, _keepers)
    nb = (
        _banded_rows(keep_sig, num_hashes, bands)
        .withColumn("pbucket", pb(F.col("bucket")))
        .alias("n")
    )
    if batches:
        hist = spark.read.parquet(*[f"{b}/sigs" for b in batches])  # (id, sig)
        # the collided (band, pbucket) set is pushed as a static
        # PARTITION filter so the index read opens only colliding
        # directories; one read per batch root (partition discovery
        # wants a single basePath per partitioned table), pruned then
        # unioned — the filter sits below each union arm, so every
        # arm's scan opens only its colliding (band, pbucket)
        # directories
        from functools import reduce

        idx_parts = [
            spark.read.parquet(f"{b}/index").where(
                (F.col("band") * P + F.col("pbucket")).isin(keys)
            )
            for b in batches
        ]
        hb = reduce(lambda a, b2: a.unionByName(b2), idx_parts).alias("h")
        hits = (
            nb.join(
                hb,
                (F.col("n.band") == F.col("h.band"))
                & (F.col("n.bucket") == F.col("h.bucket")),
            )
            .select(F.col("n.id").alias("id"), F.col("h.id").alias("hid"))
            .distinct()
            .join(keep_sig.select("id", F.col("sig").alias("sig_a")), "id")
            .join(
                hist.select(F.col("id").alias("hid"), F.col("sig").alias("sig_b")),
                "hid",
            )
            .where(
                _sig_agreement(F.col("sig_a"), F.col("sig_b"), num_hashes)
                >= F.lit(threshold)
            )
            .select("id")
            .distinct()
        )
        keep_sig = keep_sig.join(hits, "id", "left_anti")
    keep_sig = track(keep_sig.persist())
    if not replayed:
        # two tables per data dir, then the commit: a crash before it
        # leaves the dir unlisted, so invisible to reads. sigs sort by
        # id so each part file's min/max id stats are tight — the
        # estimator join's hid fetch can row-group-skip instead of
        # scanning every admitted signature. A batch that admits
        # NOTHING (all-duplicate) commits nothing: an empty
        # partitioned dir would crash every later schema-inferring
        # read of the store, and a no-op batch must not grow it.
        #
        # The sigs write runs FIRST and doubles as the cache
        # materializer; the emptiness check then reads the cache
        # (~free) instead of probing BEFORE the write — the old
        # pre-write isEmpty ran every upstream map stage (the whole
        # minhash + banded self-join + history pipeline) a second
        # time just to peek at one partition (r14, guide §1.2). The
        # empty dir is deleted at once; after a crash in between,
        # the next compaction reaps it.
        out_dir = stores.new_dir(store_path, doc)
        keep_sig.sort("id").write.parquet(os.path.join(out_dir, "sigs"))
        if keep_sig.isEmpty():
            jvm, fs, _ = stores.store_fs(spark, out_dir)
            fs.delete(jvm.org.apache.hadoop.fs.Path(out_dir), True)
        else:
            (
                _banded_rows(keep_sig, num_hashes, bands)
                .withColumn("pbucket", pb(F.col("bucket")))
                # co-locate each (band, pbucket) into one task so every
                # partition directory gets one file, not one per task
                .repartition("band", "pbucket")
                .write.partitionBy("band", "pbucket")
                .parquet(os.path.join(out_dir, "index"))
            )
            stores.commit(
                spark, store_path, doc, doc["files"] + [{"path": out_dir, "tag": tag}]
            )
    # survivors: batch rows minus (dominated within batch) minus
    # (history hits) — i.e. anything whose id left the signature set,
    # PLUS the no-signature (too short) docs, which are never dropped
    dropped = (
        sig.select("id").join(keep_sig.select("id"), "id", "left_anti")
    )
    return new_docs.join(
        dropped.withColumnRenamed("id", id_col), id_col, "left_anti"
    )


def compact_near_dedup_store(spark, store_path: str) -> dict:
    """Merge every batch of an :func:`incremental_near_dedup` store
    into ONE data dir — the store's lifecycle maintenance: a
    continuously ingesting pipeline accumulates one dir (and one
    id-sorted sigs file + one partition-dir set) per batch, and after
    10^3-10^4 batches per-batch listing and footer overheads dominate
    the history scan. Compaction unions the sigs (re-sorted by id, so
    row-group stats stay tight) and the pre-banded index rows
    (rewritten into one (band, pbucket) directory set — no re-banding,
    no parameters needed: pbucket is already a column), commits a
    version listing only the new dir, then reaps every dir that
    version does not list (:func:`..functions.stores.reap`). A crash
    before the commit leaves the old batches serving. Returns
    {"batches_compacted", "rows", "out_dir"}."""
    import os

    from functools import reduce

    doc = stores.head(spark, store_path)
    batches = [f["path"] for f in doc["files"]]
    if len(batches) < 2:
        return {"batches_compacted": 0, "rows": 0, "out_dir": None}
    sigs = spark.read.parquet(*[f"{b}/sigs" for b in batches])
    idx = reduce(
        lambda a, b2: a.unionByName(b2),
        [spark.read.parquet(f"{b}/index") for b in batches],
    )
    out_dir = stores.new_dir(store_path, doc)
    sigs.sort("id").write.parquet(os.path.join(out_dir, "sigs"))
    (
        idx.repartition("band", "pbucket")
        .write.partitionBy("band", "pbucket")
        .parquet(os.path.join(out_dir, "index"))
    )
    n_rows = spark.read.parquet(os.path.join(out_dir, "sigs")).count()
    stores.commit(spark, store_path, doc, [{"path": out_dir, "tag": None}])
    stores.reap(spark, store_path)
    return {
        "batches_compacted": len(batches),
        "rows": int(n_rows),
        "out_dir": out_dir,
    }


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-level diff between two corpus snapshots — the
    data-versioning primitive behind incremental training refreshes
    ("retrain on what changed"): classify every id as 'added' (only in
    the new snapshot), 'removed' (only in the old), or 'changed' (in
    both, content fingerprint differs). Ids whose content is identical
    drop out, so the OUTPUT scales with churn, never corpus size.

    Plan shape: each side reduces to (id, 16-byte md5) — text never
    shuffles — then one full-outer equi-join on id. At 100 TB both
    snapshot scans pushdown-project to (id, text) and the join
    co-locates if the snapshots share id bucketing; otherwise it's one
    digest-width shuffle per side. md5(NULL) gets the same sentinel
    treatment as :func:`incremental_exact_dedup`, so a null-text doc
    diffs like any other value rather than classifying as changed
    against itself.

    Output: (id, old_fp, new_fp, status) — fp columns null on the
    side the id is absent from.
    """
    fp = lambda c: F.coalesce(F.md5(F.col(c)), F.lit("__null_text__"))  # noqa: E731
    o = old.select(F.col(id_col).alias("id"), fp(text_col).alias("old_fp"))
    n = new.select(F.col(id_col).alias("id"), fp(text_col).alias("new_fp"))
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
    )
    return (
        j.select("id", "old_fp", "new_fp", status.alias("status"))
        .where(F.col("status").isNotNull())
    )


def duplicated_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 5,
) -> DataFrame:
    """Per-document duplicated n-gram fraction: the share of a doc's
    DISTINCT word ``gram``-grams that occur in at least one OTHER
    document — the standard corpus-level duplication diagnostic
    (used as a quality filter in web-scale curation pipelines: a high
    fraction means boilerplate / templated / near-duplicate content
    even when no single pair crosses a dedup threshold).

    Scale shape: one explode to (id, 16-byte digest) rows — PERSISTED,
    because it feeds both the frequency groupBy and the join-back side
    and AQE re-planning defeats exchange reuse between them (unpersisted
    the tokenize->shingle->md5 subtree executed 4x per action, the
    dominant cost at corpus scale; with the persist it computes once) —
    then one digest groupBy for global document frequency (map-side
    combine — per-doc grams are DISTINCT so count(*) IS the doc
    frequency), one join back, one per-doc agg. Only digests shuffle,
    never gram text; a boilerplate mega-gram skews an AQE-splittable
    join. The persist is registered with the caching tracker, so driver
    queries release it at the next query boundary.

    Output: (id, n_grams, n_dup_grams, dup_frac) — docs with fewer
    than ``gram`` tokens report (0, 0, 0.0).
    """
    from data_integration_and_harmonization_spark.functions.caching import track

    ex = (
        # staged tokenize (r14): see minhash_signatures
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__tk"))
        .select(
            "id",
            F.explode(word_shingles(F.col("__tk"), gram)).alias("g"),
        )
        .select("id", F.md5("g").alias("h"))
    )
    ex = track(ex.persist())
    freq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        ex.join(freq, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__df") >= 2).cast("long")).alias("n_dup_grams"),
        )
    )
    base = df.select(F.col(id_col).alias("id"))
    frac = F.round(
        F.when(F.col("n_grams") > 0, F.col("n_dup_grams") / F.col("n_grams")).otherwise(
            F.lit(0.0)
        ),
        6,
    )
    return (
        base.join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
        )
        .withColumn("dup_frac", frac)
    )


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """ExactSubstr-style duplicated-span audit (Lee et al. 2022,
    arXiv:2107.06499 §4.1): per document, the maximal token spans
    covered by ``k``-token windows that occur at least twice in the
    corpus (any repeat counts — cross-document or within-document,
    exactly the suffix-array criterion of the paper; their production
    k is 50 tokens). Where ``duplicated_ngram_stats`` reports the
    duplicated-gram *fraction*, this reports the *merged span
    geometry* — the thing a span-removal pass would actually cut.

    Scale shape — the paper builds one giant suffix array; the
    distributed re-expression is rolling digests + gaps-and-islands,
    all equi-joins and one per-doc window:

    1. posexplode each doc's ``k``-gram md5 digests to (id, pos, h) —
       PERSISTED: the explode feeds both the frequency groupBy and the
       join-back side (same rationale as ``duplicated_ngram_stats``);
       only 16-byte digests ever shuffle, never window text.
    2. one digest groupBy for corpus occurrence counts; windows with
       count >= 2 are duplicated.
    3. join back -> each doc's duplicated window starts; merge
       overlapping/adjacent windows ([p, p+k) and [q, q+k) merge when
       q - p <= k) by the classic gaps-and-islands window over pos —
       partition-local per doc, positions bounded by doc length.
    4. per-island covered tokens = max(pos) - min(pos) + k (merged
       windows are contiguous by construction), then one per-doc agg.

    Output: one row per input document — (id, n_tokens, n_dup_spans,
    dup_span_tokens, dup_span_frac); span-free docs report zeros.
    """
    from pyspark.sql import Window

    from data_integration_and_harmonization_spark.functions.caching import track

    t = tokens(text_col)
    n = F.greatest(F.size(t) - (k - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(t, j + 1, n) for j in range(k)])
    grams = F.transform(
        z, lambda x: F.md5(F.concat_ws(" ", *[x[str(j)] for j in range(k)]))
    )
    ex = df.select(
        F.col(id_col).alias("id"), F.posexplode(grams).alias("pos", "h")
    )
    ex = track(ex.persist())
    freq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("__n"))
    dup_pos = (
        ex.join(freq.where(F.col("__n") >= 2), "h")
        .select("id", "pos")
    )
    w = Window.partitionBy("id").orderBy("pos")
    isl = dup_pos.withColumn("__prev", F.lag("pos").over(w)).withColumn(
        "__span",
        F.sum(
            F.when(
                F.col("__prev").isNull() | (F.col("pos") - F.col("__prev") > k),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).over(w),
    )
    spans = isl.groupBy("id", "__span").agg(
        (F.max("pos") - F.min("pos") + k).alias("__covered")
    )
    per_doc = spans.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("__covered").alias("dup_span_tokens"),
    )
    base = df.select(F.col(id_col).alias("id"), F.size(t).alias("n_tokens"))
    out = base.join(per_doc, "id", "left").select(
        "id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("dup_span_tokens", F.lit(0)).cast("long").alias("dup_span_tokens"),
    )
    return out.withColumn(
        "dup_span_frac",
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.col("dup_span_tokens") / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
            6,
        ),
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 2,
) -> DataFrame:
    """C4-style cross-document line deduplication: drop every line
    whose trimmed form occurs in at least ``min_doc_freq`` DISTINCT
    documents (the boilerplate filter of C4 / RefinedWeb-class web
    curation — nav bars, cookie banners, and licence footers repeat
    verbatim across pages while real prose does not). Lines repeated
    only WITHIN one document survive; frequency is distinct-document
    frequency, not occurrence count. Blank (all-space) lines share one
    trimmed form, so corpora with >= ``min_doc_freq`` blank-line docs
    collapse blank lines too — deterministic and documented.

    Scale shape: posexplode to (id, pos, line), reduce each line to a
    16-byte md5 of its trimmed form for the frequency pass — ONE digest
    groupBy over (h, id)-distinct rows gives document frequency without
    ever shuffling line text — then one join back on the digest and one
    per-doc reassembly groupBy. Line text shuffles exactly once (the
    reassembly, which must move it by construction); the frequency side
    moves only digests. A viral boilerplate line is one hot digest in
    the join — AQE-splittable, and its post-filter rows are dropped
    before reassembly. Reassembly orders by the exploded position via
    array_sort on struct(pos, line) — whole-stage-codegen array ops,
    no Python.

    Output: one row per input document — (id, n_lines, n_dup_lines,
    text_deduped). Documents whose every line was boilerplate come back
    with text_deduped = '' (never dropped: downstream joins must see
    the full id set).

    Reference scope: the reference's 233-line pandas script has no
    corpus-level text curation at all; this extends the engine toward
    the training-data pipelines the ref's harmonization step feeds.
    """
    from data_integration_and_harmonization_spark.functions.caching import track

    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
    ).withColumn("h", F.md5(F.trim(F.col("line"))))
    # the explode feeds both the frequency groupBy and the join-back
    # side; persist so the split+md5 subtree computes once per action
    # (same rationale as duplicated_ngram_stats above)
    lines = track(lines.persist())
    freq = (
        lines.select("h", "id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("__ldf"))
    )
    kept = (
        lines.join(freq, "h")
        .select("id", "pos", "line", (F.col("__ldf") >= min_doc_freq).alias("__dup"))
    )
    per_doc = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("__dup").cast("long")).alias("n_dup_lines"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__dup"), F.struct(F.col("pos"), F.col("line"))
                        )
                    )
                ),
                lambda s: s.line,
            ),
        ).alias("text_deduped"),
    )
    # collect_list drops the NULL structs F.when leaves for dup lines,
    # so the sorted survivors ARE the kept lines in original order;
    # a fully-boilerplate doc yields an empty array -> ''. Every input
    # id appears: posexplode of split() never drops a row (split of ''
    # is ['']), so per_doc is already total over df's ids.
    return per_doc


def _shingle_sets(
    df: DataFrame, text_col: str, id_col: str, gram: int, keys: dict | None = None
) -> DataFrame:
    """(id, *keys, set) word-shingle sets, ``keys`` naming key columns.

    The raw text shuffles ONCE, on the keys (on id without keys;
    explicit n => a single-file scan still fans out); the expensive
    tokenize + shingle projection then runs distributed, after the
    exchange. Staged tokenize (r14): see :func:`minhash_signatures`."""
    keys = keys or {}
    n = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(
            F.col(id_col).alias("id"),
            *[c.alias(k) for k, c in keys.items()],
            F.col(text_col).alias("__t"),
        )
        .repartition(n, *(list(keys) or ["id"]))
        .select("id", *keys, tokens("__t").alias("__tk"))
        .select("id", *keys, word_shingles(F.col("__tk"), gram).alias("set"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 3,
    threshold: float = 0.0,
    length_bucket: int = 100,
) -> DataFrame:
    """Exact word-shingle Jaccard for candidate pairs.

    Candidates = same (lang if present, n_chars/length_bucket) — a
    cheap blocking key that keeps the pair join near-linear; the
    MinHash path above is the unblocked scale route.

    Scale shape: ONE shuffle of (id, text) on the blocking key, then
    the shingle projection runs distributed post-shuffle, then
    :func:`..functions.setsim.jaccard_pairs` pairs within the blocking
    key (a keyed self-join at threshold 0, the prefix filter above it)
    — the self-join's children share the exchange, and NOTHING
    corpus-sized is ever broadcast. A blocking group with pathological
    skew is bounded by construction (documents of one length bucket +
    language); the unblocked scale route for heavy corpora is
    :func:`lsh_verified_pairs`.

    Output: (id_a, id_b, jaccard) for pairs above ``threshold``.
    """
    keys = {"blk": F.floor(F.length(F.col(text_col)) / length_bucket)}
    if "lang" in df.columns:
        keys["lang"] = F.col("lang")
    sets = _shingle_sets(df, text_col, id_col, gram, keys)
    return jaccard_pairs(sets, threshold, list(keys))


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    gram: int = 3,
) -> DataFrame:
    """The 100 TB near-dup pipeline: MinHash-LSH proposes candidate
    pairs (near-linear), exact shingle Jaccard
    (:func:`..functions.setsim.jaccard_pairs`) verifies ONLY those
    pairs. Cost scales with the number of real near-dup pairs, not
    with corpus size squared.

    Output: (id_a, id_b, jaccard) for verified pairs >= threshold.
    """
    cands = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands, gram)
    sets = _shingle_sets(df, text_col, id_col, gram)
    return jaccard_pairs(sets, threshold, candidates=cands)


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup: candidate pairs share a sign-bit LSH
    bucket (random-hyperplane family restricted to axis planes, so the
    oracle can mirror it); exact cosine filters. Per-bucket shuffle
    equi self-join — the corpus shuffles ONCE on the bucket key, both
    join children reuse that exchange, and nothing corpus-sized is
    broadcast; quadratic only within buckets, near-linear overall.

    Output: (id_a, id_b, cosine_sim) with cosine >= threshold.
    """
    from data_integration_and_harmonization_spark.operators.similarity import (
        dot,
        norm,
        signbit_bucket,
    )

    # Per-vector norm computed ONCE before the self-join (r14, guide
    # §1.2): a cosine spelled per pair re-runs BOTH norms —
    # interpreted O(d) HOF aggregates — once per candidate pair; the
    # exact same sqrt values staged per vector ride the (one) bucket
    # exchange as 8 bytes/row and the per-pair work drops to the dot
    # product. dot/(nrm_l*nrm_r) is the same expression tree with the
    # same evaluation order, so every cosine is bit-identical.
    s = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        signbit_bucket(F.col(vec_col), n_bits).alias("bucket"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    n = emb.sparkSession.sparkContext.defaultParallelism
    s = s.repartition(n, "bucket")
    left, right = s.alias("l"), s.alias("r")
    pairs = left.join(
        right,
        (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")),
    ).select(
        F.col("l.id").alias("id_a"),
        F.col("r.id").alias("id_b"),
        F.round(
            dot(F.col("l.v"), F.col("r.v")) / (F.col("l.nrm") * F.col("r.nrm")), 6
        ).alias("cosine_sim"),
    )
    return pairs.where(F.col("cosine_sim") >= threshold)


def semantic_dedup(
    emb: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "seed",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then
    near-dedup WITHIN each cluster by exact cosine, keeping one
    representative per semantic-duplicate component. The clustering
    bounds the pairwise pass — each vector is compared only inside its
    cell, so the join is quadratic per cell and near-linear overall
    (the same cost shape as the IVF scan in :mod:`.similarity`).

    ``centroids='seed'`` uses the deterministic first-``n_clusters``
    vectors as cell centers (engine-reproducible by an external
    oracle); pass ``'kmeans'`` for Lloyd-trained centers (the quality
    default at scale, same trade as :func:`~.similarity.ivf_topk`).

    Scale shape: one narrow projection computes cell assignment
    (centers inline, JVM expressions), one repartition on cell, one
    in-cell self-join, then :func:`duplicate_clusters` over only the
    duplicate EDGES (scales with real near-dups, not corpus size).

    Output: (id, cell, cluster_id, keep) — every input id labeled;
    singletons are their own cluster and kept; within a component
    only the minimum id has keep=true.
    """
    from data_integration_and_harmonization_spark.operators.similarity import (
        _seed_centers,
        dot,
        norm,
    )

    if centroids == "seed":
        # centers are DATA (broadcast table), not expression literals:
        # an inlined k x d argmin is O(k*d) Catalyst-analysis work on
        # every job of every invocation (same trade :func:`_centers_df`
        # documents for PQ codebooks). The struct-min reproduces
        # :func:`_nearest_index`'s (min d2, then min cell) tie-break;
        # partial aggregation collapses the k candidate rows per id
        # map-side, so the groupBy shuffles ~one row per vector.
        centers = _seed_centers(emb, n_clusters, id_col, vec_col)
        centers_df = emb.sparkSession.createDataFrame(
            [(i, c) for i, c in enumerate(centers)],
            "cell int, center array<double>",
        )
        from data_integration_and_harmonization_spark.operators.similarity import (
            squared_distance,
        )

        assigned = (
            emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .crossJoin(F.broadcast(centers_df))
            .groupBy("id")
            .agg(
                F.first("v").alias("v"),
                F.min(
                    F.struct(
                        squared_distance(F.col("v"), F.col("center")).alias("d2"),
                        F.col("cell").alias("cell"),
                    )
                )["cell"].alias("cell"),
            )
        )
    elif centroids == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        emb_v = emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias(
                "features"
            ),
        )
        km = KMeans(
            k=n_clusters,
            seed=42,
            maxIter=8,
            featuresCol="features",
            predictionCol="cell",
        )
        assigned = km.fit(emb_v).transform(emb_v).select("id", "v", "cell")
    else:
        raise ValueError(f"unknown centroids mode {centroids!r}")
    n = emb.sparkSession.sparkContext.defaultParallelism
    # persist the cell assignment: it feeds three consumers (both join
    # children and the final label join-back) across the several jobs
    # duplicate_clusters runs — unpersisted, the centers argmin would
    # recompute per job. Tracked, released at the query boundary.
    from data_integration_and_harmonization_spark.functions.caching import track

    # per-vector norm staged into the PERSISTED assignment (r14, guide
    # §1.2): the in-cell join evaluated a cosine per candidate pair,
    # re-running both interpreted O(d) norm aggregates per pair;
    # cached once per vector, the per-pair work drops to the dot
    # product. Same expression tree and order — bit-identical cosines.
    assigned = track(
        assigned.withColumn("nrm", norm(F.col("v"))).repartition(n, "cell").persist()
    )
    l, r = assigned.alias("l"), assigned.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.cell") == F.col("r.cell")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(
                dot(F.col("l.v"), F.col("r.v")) / (F.col("l.nrm") * F.col("r.nrm")),
                6,
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )
    comp = duplicate_clusters(pairs)
    return (
        assigned.select("id", "cell")
        .join(comp, "id", "left")
        .select(
            "id",
            "cell",
            F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("cluster_id") == F.col("id"))
    )


# ------------------------------------------------------- queries and oracles

# dedup_exact_fp: exact + normalized-fingerprint dedup in one tagged
# result (merged from r1's dedup_exact / dedup_fingerprint — the
# driver's correctness pass records at most 50 queries, so same-shaped
# operators share an entry), plus the store-backed admit sequences and
# a snapshot diff; each leg's rows are (kind, fp, n_copies, keep_id).

def _exact_fp_setup(spark: SparkSession, sf: str) -> dict:
    return {"spark": spark, "docs": spark.read.parquet(f"{sf}/documents.parquet")}


def _exact_fp_exact(ctx: dict) -> DataFrame:
    return exact_dedup(ctx["docs"]).select(
        F.lit("exact").alias("kind"),
        F.col("text_fp").alias("fp"),
        "n_copies",
        "keep_id",
    )


def _exact_fp_normalized(ctx: dict) -> DataFrame:
    return fingerprint_dedup(ctx["docs"]).select(
        F.lit("normalized").alias("kind"), "fp", "n_copies", "keep_id"
    )


def _inc_rows(b: DataFrame, kind: str) -> DataFrame:
    """Admitted survivor rows; n_copies is null (survivor rows, not
    group counts)."""
    # same null-text sentinel the store uses, so a null-text
    # survivor reports the fingerprint it was admitted under
    return b.select(
        F.lit(kind).alias("kind"),
        F.coalesce(F.md5("text"), F.lit("__null_text__")).alias("fp"),
        F.lit(None).cast("long").alias("n_copies"),
        F.col("doc_id").alias("keep_id"),
    )


def _exact_fp_inc(ctx: dict) -> DataFrame:
    """'inc1'/'inc2': the incremental_exact_dedup two-batch admit
    sequence — the even-keyed half is admitted first, then the odd
    half runs against the persisted fingerprint store; batch-2
    survivors are exactly the odd fingerprints never seen in batch 1,
    which the oracle replays as a groupBy + anti-join. The per-call
    store (under the process scratch root, reaped at exit) keeps
    repeated invocations (bench warm passes) independent."""
    from data_integration_and_harmonization_spark.functions.caching import scratch_dir

    docs = ctx["docs"]
    store = scratch_dir("fp_store") + "/store"
    eb1 = incremental_exact_dedup(docs.where(F.col("doc_id") % 2 == 0), store)
    eb2 = incremental_exact_dedup(docs.where(F.col("doc_id") % 2 == 1), store)
    return _inc_rows(eb1, "inc1").unionByName(_inc_rows(eb2, "inc2"))


def _exact_fp_nd(ctx: dict) -> DataFrame:
    """'nd1'/'nd2': the NEAR-dup admit sequence
    (incremental_near_dedup) over the same even/odd batches —
    signature-store matching (banded LSH + estimated Jaccard at 0.5),
    md5 hashes so the oracle replays signatures, in-batch components,
    and history hits bit-for-bit."""
    from data_integration_and_harmonization_spark.functions.caching import scratch_dir

    docs = ctx["docs"]
    nd_store = scratch_dir("nd_store") + "/store"
    n1 = incremental_near_dedup(
        docs.where(F.col("doc_id") % 2 == 0), nd_store, threshold=0.5
    )
    n2 = incremental_near_dedup(
        docs.where(F.col("doc_id") % 2 == 1), nd_store, threshold=0.5
    )
    return _inc_rows(n1, "nd1").unionByName(_inc_rows(n2, "nd2"))


def _exact_fp_cdfnd(ctx: dict) -> DataFrame:
    """'cdfnd' (r12): the CDF-DRIVEN maintenance consumer
    (stream_cdf_neardedup_maintenance, the signature store's sibling
    of the profile consumer) checked VALUE-FOR-VALUE: the 20% subset
    (doc_id % 5 == 0) is committed as TWO manifest versions (even ids,
    then odd ids) and ONE availableNow drain catches up across both —
    a true multi-version drain, one micro-batch admit. Each row is a
    stored signature with fp = md5 of the rendered sig array, so the
    ORACLE pins the streamed store's full content (ids AND all 32
    minima) by replaying the subset admit with the 'c_'-prefixed CTE
    chain — no Spark-side batch twin needed. Sequential drains /
    history hits / tag replay are pinned by tests/test_streaming.py."""
    import os

    from data_integration_and_harmonization_spark.functions.caching import scratch_dir
    from data_integration_and_harmonization_spark.sources import manifest as MF
    from data_integration_and_harmonization_spark.sources.cdf_stream import (
        stream_cdf_neardedup_maintenance,
    )
    from data_integration_and_harmonization_spark.sources.writers import list_data_files

    spark = ctx["spark"]
    sub = ctx["docs"].where(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    cb = scratch_dir("cdfnd")
    root = os.path.join(cb, "tbl")
    s_stream = os.path.join(cb, "store")
    ckpt = os.path.join(cb, "ckpt")
    d1 = os.path.join(cb, "d1")
    d2 = os.path.join(cb, "d2")
    sub.where(F.col("doc_id") % 2 == 0).write.parquet(d1)
    MF.commit_version(spark, root, d1, note="even")
    sub.where(F.col("doc_id") % 2 == 1).write.parquet(d2)
    MF.commit_files(
        spark,
        root,
        MF.read_manifest(spark, root)["files"]
        + [{"path": p, "bytes": b} for p, b in list_data_files(spark, d2)],
        note="odd",
    )
    stream_cdf_neardedup_maintenance(spark, root, s_stream, ckpt, threshold=0.5)
    streamed = spark.read.parquet(
        *[f"{p}/sigs" for p in stores.complete_batches(spark, s_stream)]
    )
    return streamed.select(
        F.lit("cdfnd").alias("kind"),
        F.md5(
            F.array_join(
                F.transform("sig", lambda x: x.cast("string")), ","
            )
        ).alias("fp"),
        F.lit(None).cast("long").alias("n_copies"),
        F.col("id").alias("keep_id"),
    )


def _exact_fp_diff(ctx: dict) -> DataFrame:
    """'diff_added'/'diff_removed'/'diff_changed': snapshot_diff
    between two deterministic corpus versions — old drops ids with
    doc_id % 11 == 3 (so those classify 'added'), new drops
    doc_id % 7 == 0 ('removed') and rewrites the text of doc_id % 5 == 0
    survivors ('changed'). The oracle replays the same two snapshots
    and the same full-outer fp compare in SQL."""
    docs = ctx["docs"]
    v_old = docs.where(F.col("doc_id") % 11 != 3)
    v_new = docs.where(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit("!"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(v_old, v_new).select(
        F.concat(F.lit("diff_"), F.col("status")).alias("kind"),
        F.coalesce("new_fp", "old_fp").alias("fp"),
        F.lit(None).cast("long").alias("n_copies"),
        F.col("id").alias("keep_id"),
    )


# The store-backed legs (inc, nd, cdfnd) write independent stores, so
# they overlap: r14 measured the exact and near admit chains threaded
# at 11.1 s vs 11.4 s sequential (min-of-5, same process).
DEDUP_EXACT_FP_LEGS = (
    _exact_fp_setup,
    (
        ("exact", _exact_fp_exact),
        ("normalized", _exact_fp_normalized),
        ("inc", _exact_fp_inc),
        ("nd", _exact_fp_nd),
        ("cdfnd", _exact_fp_cdfnd),
        ("diff", _exact_fp_diff),
    ),
)


def q_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # Oracle-checked on a deterministic 20% subset (the all-pairs
    # form is the semantics demo; the scale path is the
    # lsh_verified_pairs stage of dedup_lsh_pipeline below).
    docs = spark.read.parquet(f"{sf}/documents.parquet").where(
        F.col("doc_id") % 5 == 0
    )
    return (
        ngram_jaccard_pairs(docs, threshold=0.0)
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
        .limit(200)
    )


def q_dedup_lsh_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    # the banded candidate graph AND the Jaccard-verified pair set
    # in one tagged entry (candidate rows val=n_shared_bands,
    # verified rows val=jaccard); the candidate frame is built once
    # and verified as is. Both stages are reproduced by the DuckDB
    # oracle pair-for-pair.
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    cands = minhash_lsh_candidates(docs)
    ver = jaccard_pairs(_shingle_sets(docs, "text", "doc_id", 3), 0.5, candidates=cands)
    return cands.select(
        F.lit("candidate").alias("kind"),
        "id_a",
        "id_b",
        F.col("n_shared_bands").cast("double").alias("val"),
    ).unionByName(
        ver.select(F.lit("verified").alias("kind"), "id_a", "id_b", F.col("jaccard").alias("val"))
    )


# dedup_clusters: four tagged graph-family legs through one
# hash-matched result, each (kind, id, cluster_id). The doc, er and pr
# legs' builds (persist/count/collect components, ER blocking, the
# 5-round PageRank loop) are independent lineages of many short,
# low-parallelism jobs, so overlapping them lets the scheduler
# back-fill; per-leg results are unchanged (each is deterministic in
# isolation).

def _clusters_setup(spark: SparkSession, sf: str) -> dict:
    from data_integration_and_harmonization_spark.functions.caching import track

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # persisted ONCE for its two consumers (the doc leg materializes
    # it; the tri leg's serve action then reads the cache instead of
    # re-running the whole LSH propose+verify pipeline — r13: the tri
    # leg was the query's slowest served leg, 1.0 s of pure recompute)
    pairs = track(
        lsh_verified_pairs(docs, threshold=0.5).persist()
    )
    return {"spark": spark, "sf": sf, "pairs": pairs}


def _clusters_doc(ctx: dict) -> DataFrame:
    """kind='doc': LSH-propose -> Jaccard-verify -> connected components
    over documents (md5 hashes => the component assignment is checked
    node-for-node by a recursive-CTE oracle)."""
    return duplicate_clusters(ctx["pairs"]).select(
        F.lit("doc").alias("kind"), "id", "cluster_id"
    )


def _clusters_er(ctx: dict) -> DataFrame:
    """kind='er': entity resolution over customer records — blocked
    (nation, mktsegment) Levenshtein<=1 name linkage resolved by the
    same connected-components operator, the classic record-linkage
    pipeline (operators/linkage.py)."""
    from data_integration_and_harmonization_spark.operators.linkage import (
        resolve_entities,
    )

    cust = ctx["spark"].read.parquet(f"{ctx['sf']}/customer.parquet")
    return resolve_entities(
        cust,
        id_col="c_custkey",
        name_col="c_name",
        block_cols=["c_nationkey", "c_mktsegment"],
        max_edit=1,
    ).select(F.lit("er").alias("kind"), "id", "cluster_id")


def _clusters_pr(ctx: dict) -> DataFrame:
    """kind='pr': 5-iteration PageRank over the co-purchase part graph
    (operators/graph.py) — the engine's second iterative graph
    algorithm; rank rides as parts-per-billion in cluster_id, replayed
    node-for-node by an unrolled 5-CTE oracle."""
    return _graph.pagerank_ppb_leg(
        ctx["spark"].read.parquet(f"{ctx['sf']}/lineitem.parquet")
    )


def _clusters_tri(ctx: dict) -> DataFrame:
    """kind='tri': per-node triangle counts over the NEAR-DUP doc graph
    (the LSH-verified pairs) — triangle density measures
    duplicate-cluster cohesion (transitive near-dups triangulate;
    chains don't). The degree-ordered orientation keeps wedges
    O(E^1.5) and hub-safe. NOT run on the co-purchase graph: basket
    cliques make triangle counting cubic in basket size (measured
    166 s at sf0.1 — an order with 40 parts alone contributes ~10k
    triangles); the near-dup graph is sparse by construction."""
    pairs = ctx["pairs"]
    sym_pairs = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return _graph.triangle_counts(sym_pairs).select(
        F.lit("tri").alias("kind"),
        "id",
        F.col("n_triangles").alias("cluster_id"),
    )


DEDUP_CLUSTERS_LEGS = (
    _clusters_setup,
    (
        ("doc", _clusters_doc),
        ("er", _clusters_er),
        ("pr", _clusters_pr),
        ("tri", _clusters_tri),
    ),
)


# dedup_simhash: text near-dup pairs plus image, audio and video
# near-dup legs over engine-encoded media, each (kind, id_a, id_b,
# hamming). md5 hashes => banded candidates + exact Hamming filter
# are reproduced by the DuckDB oracle pair-for-pair.

def _simhash_media_payloads() -> list[tuple[int, bytes]]:
    """The synthetic media corpus: (media_id, encoded payload)."""
    import numpy as np

    from data_integration_and_harmonization_spark.functions import media_codecs as MC

    # 'img_bits' + 'img_pair' rows (r11): image near-dup via the
    # 64-bit DCT perceptual hash. The corpus is engine-ENCODED
    # synthetic images whose pixel values are pure integer
    # formulas, so the oracle replays the ENTIRE pHash pipeline in
    # SQL — nearest 32x32 resample (src index = i//2 for the 16x16
    # image), BT.601 luma for the color constants, the 8x8
    # low-band DCT as an explicit cos-product sum, median
    # threshold — spec-derived, independent of the decoder AND of
    # numpy. Formula choice is deliberate: the quadratic-residue
    # textures have every low-band coefficient >= ~4.3 away from
    # the median (no platform-noise bit flips), constants have all
    # AC coefficients at exactly 0.0 after the documented
    # 6-decimal rounding, and image -2 is image -1 with a one-
    # column bump tuned to land at Hamming distance 2 — a true
    # near-dup the banded join must find (recall is EXACT for
    # hamming <= bands-1 by pigeonhole).
    # 'aud_bits' / 'aud_pair' rows (r11 second wave): audio
    # near-dup via the spectral band-energy fingerprint
    # (media_codecs.audio_simhash64). The corpus is tone SEQUENCES
    # whose per-segment bins are leakage-free (bin 8+16b of a
    # 256-sample frame lands wholly in band b) and whose 16-bit
    # PCM quantization noise rounds to exactly 0.0 at the recipe's
    # 3-decimal cell rounding — so the expected bit grid is pure
    # arithmetic: bit(bucket*8+band) = 1 iff segment `bucket`
    # plays band `band`. -12 is -11 with ONE segment's band moved
    # (Hamming 2, a true pair); -13 reverses the sequence (Hamming
    # 16, excluded); -14 is silence (hash 0, pairs nothing).
    # Images and audio hash in the SAME Arrow stage
    # (media_signature_table dispatches by sniffed format); the
    # banded join runs per modality.
    yy, xx = np.mgrid[0:32, 0:32]
    quad = (xx * xx * 7 + yy * yy * 3 + xx * yy) % 256
    y16, x16 = np.mgrid[0:16, 0:16]

    def tone_seq(bands_seq):
        t = np.arange(1024)
        return MC.encode_wav(
            8192,
            np.concatenate(
                [
                    0.5 * np.sin(2 * np.pi * (8 + 16 * b) * t / 256)
                    for b in bands_seq
                ]
            ),
        )

    def _mjpeg_block_frame(cx, cy, cxy, cxx=0, bump_col=None, bump=0):
        by, bx = np.mgrid[0:32, 0:32]
        bx, by = bx // 8, by // 8
        v = 128 + 3 * ((bx * cx + by * cy + bx * by * cxy
                        + bx * bx * cxx) % 30) - 45
        if bump_col is not None:
            v = v + np.where(bx == bump_col, bump, 0)
        return v.astype(np.uint8)

    return [
        (-1, MC.encode_png(quad.astype(np.uint8))),
        # -9 (r13): the SAME quad pattern as PNG -1, BMP-encoded
        # (24-bit BI_RGB bottom-up) — both formats are lossless,
        # so the pair lands at hamming 0: the image family's
        # cross-FORMAT twin of the WAV/Layer-I/Layer-II audio
        # triple and the oracle reuses -1's pixel formula.
        (-9, MC.encode_bmp(quad.astype(np.uint8))),
        (-2, MC.encode_png(((quad + (xx == 5) * 8) % 256).astype(np.uint8))),
        (-3, MC.encode_png(((xx * 13 + yy * 29 + xx * yy * 5) % 256).astype(np.uint8))),
        (-4, MC.encode_png(((x16 * x16 * 11 + y16 * y16 * 5) % 256).astype(np.uint8))),
        (-5, MC.encode_png(np.full((16, 16), 77, dtype=np.uint8))),
        (-6, MC.encode_jpeg(np.full((12, 9), 77, dtype=np.uint8), quality=90)),
        (-7, MC.encode_png(np.full((6, 5, 3), (10, 200, 30), dtype=np.uint8))),
        (-8, MC.encode_gif([np.full((8, 8, 3), (40, 80, 120), dtype=np.uint8)])),
        (-11, tone_seq([0, 1, 2, 3, 4, 5, 6, 7])),
        (-12, tone_seq([0, 1, 2, 3, 4, 5, 6, 6])),
        (-13, tone_seq([7, 6, 5, 4, 3, 2, 1, 0])),
        (-14, MC.encode_wav(8192, np.zeros(8192))),
        # 'aud' mp1 fixtures (r12): the SAME band sequences as the
        # WAV tones, but MPEG-1 Layer I encoded — the from-spec
        # bitstream decode (media_codecs.decode_mp1_subbands)
        # feeds the compressed-domain fingerprint, whose bit grid
        # is the same closed form (bit = 1 iff segment plays
        # band). -31 therefore hashes IDENTICALLY to WAV -11
        # (hamming 0 — the cross-FORMAT near-dup pair that is the
        # point of the content tier); -32 is -31 with one segment
        # moved (hamming 2, pairs with both -31 and -12); -33
        # reverses (excluded).
        (-31, MC.encode_mp1_tones([0, 1, 2, 3, 4, 5, 6, 7])),
        (-32, MC.encode_mp1_tones([0, 1, 2, 3, 4, 5, 6, 6])),
        (-33, MC.encode_mp1_tones([7, 6, 5, 4, 3, 2, 1, 0])),
        # 'aud' mp2 fixtures (r13): the SAME band sequences once
        # more, MPEG-1 Layer II encoded — the broadcast layer's
        # from-spec decode (media_codecs.decode_mp2_subbands:
        # Table 3-B.2 allocation, scfsi-shared scalefactors,
        # grouped-class degrouping, Table 3-B.4 requantization)
        # feeds the same closed-form bit grid, so -41 hashes
        # IDENTICALLY to WAV -11 AND Layer I -31 (the three-way
        # cross-format near-dup family); -42 moves one segment
        # (hamming 2); -43 reverses (excluded).
        (-41, MC.encode_mp2_tones([0, 1, 2, 3, 4, 5, 6, 7])),
        (-42, MC.encode_mp2_tones([0, 1, 2, 3, 4, 5, 6, 6])),
        (-43, MC.encode_mp2_tones([7, 6, 5, 4, 3, 2, 1, 0])),
        # 'vid_bits' / 'vid_pair' fixtures: video near-dup via the
        # temporal-average pHash (video_phash64 — sample i*T//4
        # frames, mean luma, DCT pHash). With 2 frames the picks
        # are [0,0,1,1], so the mean is (f0+f1)/2 — a pure formula
        # the oracle replays through the SAME px->coef->bits SQL
        # as the images. -22 bumps one frame's column (mean moves
        # by bump/2 -> Hamming 2, a true pair); -23 is different
        # footage; -24 is an animated constant GIF (temporal mean
        # constant -> hash 1, also pins the GIF-as-video dispatch).
        (-21, MC.encode_y4m([quad.astype(np.uint8), ((xx * 13 + yy * 29 + xx * yy * 5) % 256).astype(np.uint8)])),
        (
            -22,
            MC.encode_y4m(
                [
                    ((quad + (xx == 5) * 16) % 256).astype(np.uint8),
                    ((xx * 13 + yy * 29 + xx * yy * 5) % 256).astype(np.uint8),
                ]
            ),
        ),
        (-23, MC.encode_y4m([((xx * 31 + yy * 17 + xx * xx * 5) % 256).astype(np.uint8)] * 2)),
        (
            -24,
            MC.encode_gif(
                [
                    np.full((8, 8, 3), 30, dtype=np.uint8),
                    np.full((8, 8, 3), 90, dtype=np.uint8),
                ]
            ),
        ),
        # 'vid' MJPEG-AVI fixtures (r13): a REAL container format
        # reaching the same temporal-average pHash. Frames are
        # 32x32 BLOCK-constant grids (8x8 blocks) whose values
        # stay in 128+3Z, so the q90 JPEG tier round-trips them
        # BYTE-EXACTLY (DC quant step 3, every AC analytically
        # zero) and the oracle replays the decoded pixels as pure
        # integer formulas of the block index. -52 bumps one
        # block-column of frame 0 by 36 (mean moves 18 -> hamming
        # 2, a true pair with -51); -53 is different footage
        # (hamming 24, excluded).
        (
            -51,
            MC.encode_avi_mjpeg(
                [_mjpeg_block_frame(7, 3, 1), _mjpeg_block_frame(13, 5, 0)],
                fps=10,
            ),
        ),
        (
            -52,
            MC.encode_avi_mjpeg(
                [
                    _mjpeg_block_frame(7, 3, 1, bump_col=2, bump=36),
                    _mjpeg_block_frame(13, 5, 0),
                ],
                fps=10,
            ),
        ),
        (
            -53,
            MC.encode_avi_mjpeg(
                [_mjpeg_block_frame(11, 7, 0, 1)] * 2, fps=10
            ),
        ),
    ]


def _simhash_setup(spark: SparkSession, sf: str) -> dict:
    from data_integration_and_harmonization_spark.functions.caching import track
    from data_integration_and_harmonization_spark.operators.multimodal import (
        local_media_frame,
    )

    # JVM LocalTableScan, not defaultParallelism pickled slices —
    # each slice of a plain-list local frame costs the downstream
    # Arrow stage a Python-worker round-trip per task (r14)
    media = local_media_frame(
        spark,
        [(i, bytearray(p)) for i, p in _simhash_media_payloads()],
        "media_id long, payload binary",
    )
    # persisted: the signature table feeds SIX legs, so the Arrow
    # decode stage runs once (a few dozen rows — the persist is
    # bookkeeping, not a size concern)
    sig = track(media_signature_table(media).persist())
    return {"spark": spark, "sf": sf, "sig": sig}


def _simhash_text(ctx: dict) -> DataFrame:
    docs = ctx["spark"].read.parquet(f"{ctx['sf']}/documents.parquet")
    return simhash_pairs(docs, max_hamming=3, bands=4).select(F.lit("text").alias("kind"), "id_a", "id_b", "hamming")


def _simhash_bits(kind_tag: str, kind_val: str, ctx: dict) -> DataFrame:
    """Every signature bit of one modality as (id_a=id, id_b=bit
    position, hamming=bit)."""
    return (
        ctx["sig"].where(F.col("kind") == kind_val)
        .select(
            F.lit(kind_tag).alias("kind"),
            F.col("id").alias("id_a"),
            F.posexplode(
                F.array(
                    *[
                        F.shiftright("sig", i)
                        .bitwiseAND(F.lit(1))
                        .cast("long")
                        for i in range(64)
                    ]
                )
            ).alias("id_b", "hamming"),
        )
        .select(
            "kind", "id_a", F.col("id_b").cast("long").alias("id_b"), "hamming"
        )
    )


def _simhash_pairs(kind_tag: str, kind_val: str, ctx: dict) -> DataFrame:
    """One modality's banded near-dup pairs."""
    return hamming_pairs(
        ctx["sig"].where(F.col("kind") == kind_val).select("id", "sig"),
        bits=64,
        bands=4,
        max_hamming=3,
    ).select(F.lit(kind_tag).alias("kind"), "id_a", "id_b", "hamming")


DEDUP_SIMHASH_LEGS = (
    _simhash_setup,
    (
        ("text", _simhash_text),
        ("img_bits", partial(_simhash_bits, "img_bits", "image")),
        ("img_pair", partial(_simhash_pairs, "img_pair", "image")),
        ("aud_bits", partial(_simhash_bits, "aud_bits", "audio")),
        ("aud_pair", partial(_simhash_pairs, "aud_pair", "audio")),
        ("vid_bits", partial(_simhash_bits, "vid_bits", "video")),
        ("vid_pair", partial(_simhash_pairs, "vid_pair", "video")),
    ),
)


def q_dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Tagged embedding-dedup entry, every leg oracle-replayed:

    - 'pair': sign-bucket LSH near-dup pairs (id_a, id_b,
      val=cosine) — the unclustered family.
    - 'sem_cell': SemDeDup cell assignment (id_a=id, id_b=cell) —
      pins the coarse quantizer argmin node-for-node.
    - 'sem': SemDeDup verdicts (id_a=id, id_b=cluster_id,
      val=keep) — in-cell cosine components, min-id survivor.
    - 'sem_km': the Lloyd path (centroids='kmeans', the quality
      default at scale) end-to-end, gauged like the trained-PQ
      leg: one verdict row (id_a=-1, id_b=assigned count —
      SQL-derivable, val=1.0 iff the gauge holds). The gauge:
      every id labeled exactly once, exactly one min-id keep per
      duplicate component, AND mean within-cell distortion under
      kmeans cells <= the seed cells' (Lloyd minimizes exactly
      that objective; recall on the synthetic corpus is too noisy
      to order the two at small n, distortion is not).

    Synthetic embeddings top out near cosine 0.43, so both
    families run at threshold 0.3 to keep the checked output
    non-trivial; seed centroids keep the oracle replay exact.
    The cell count is ADAPTIVE — max(32, ceil(sqrt(n))) — because
    the clustering is the bound on the in-cell quadratic pass: a
    fixed cell count turns 10x corpus into ~100x candidate pairs
    (the 10x scale probe measured exactly that with k=32 pinned:
    2.8 s -> 37.6 s); sqrt scaling keeps candidate pairs ~n^1.5,
    the standard SemDeDup/IVF trade. The oracle computes the
    identical k in SQL.
    """
    import math

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    pairs = embedding_near_dup_pairs(emb, threshold=0.3).select(
        F.lit("pair").alias("kind"),
        "id_a",
        "id_b",
        F.col("cosine_sim").alias("val"),
    )
    n = emb.count()  # one job: sizes k AND the sem_km gauge below
    k = max(32, int(math.ceil(math.sqrt(n))))

    # r13 optimization (guide §2.6): the seed chain (argmin assign
    # + in-cell components — a collect-path CC) and the Lloyd
    # chain (KMeans fit + CC + three gauge aggregations) are
    # independent lineages run back-to-back before; concurrent
    # driver threads overlap their many short jobs. Values are
    # unchanged — both chains are deterministic in isolation.

    def _seed_chain():
        sd = semantic_dedup(
            emb, n_clusters=k, threshold=0.3, centroids="seed"
        )
        return sd, _distortion(sd.select("id", "cell"))

    def _km_chain():
        sd_km = semantic_dedup(
            emb, n_clusters=k, threshold=0.3, centroids="kmeans"
        )
        d_km = _distortion(sd_km.select("id", "cell"))
        km_stats = sd_km.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("id").alias("nd"),
        ).first()
        bad_keep = (
            sd_km.groupBy("cluster_id")
            .agg(
                F.sum(F.col("keep").cast("int")).alias("nk"),
                F.min("id").alias("mn"),
                F.min(F.when(F.col("keep"), F.col("id"))).alias("kept"),
            )
            .where((F.col("nk") != 1) | (F.col("kept") != F.col("mn")))
            .count()
        )
        return d_km, km_stats, bad_keep

    ev = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))

    def _distortion(cells: DataFrame) -> float:
        # mean per-coordinate squared deviation from the assigned
        # cell's MEAN vector — same objective for both center
        # families, so the comparison is apples to apples. One
        # posexplode + two aggs; n*dim rows, all map-combinable.
        x = cells.join(ev, "id").select(
            "cell", F.posexplode(F.col("v").cast("array<double>")).alias("i", "x")
        )
        cent = x.groupBy("cell", "i").agg(F.avg("x").alias("c"))
        return (
            x.join(cent, ["cell", "i"])
            .agg(F.avg((F.col("x") - F.col("c")) ** 2).alias("d"))
            .first()["d"]
        )

    (sd, d_seed), (d_km, km_stats, bad_keep) = overlap(_seed_chain, _km_chain)

    cell_rows = sd.select(
        F.lit("sem_cell").alias("kind"),
        F.col("id").alias("id_a"),
        F.col("cell").cast("long").alias("id_b"),
        F.lit(None).cast("double").alias("val"),
    )
    sem_rows = sd.select(
        F.lit("sem").alias("kind"),
        F.col("id").alias("id_a"),
        F.col("cluster_id").alias("id_b"),
        F.col("keep").cast("double").alias("val"),
    )

    # ---- sem_km leg: the Lloyd-trained path end to end. Cell
    # labels aren't oracle-derivable (Spark ML kmeans), so the leg
    # ships a GAUGE row: structural invariants + the distortion
    # ordering Lloyd guarantees, all computed distributed with
    # bounded (1-row / k-row) driver traffic. The chain itself ran
    # in the thread pool above (_km_chain).
    km_ok = int(
        km_stats["n"] == n
        and km_stats["nd"] == n
        and bad_keep == 0
        and d_km <= d_seed
    )
    km_row = spark.range(1).select(
        F.lit("sem_km").alias("kind"),
        F.lit(-1).cast("long").alias("id_a"),
        F.lit(km_stats["n"]).cast("long").alias("id_b"),
        F.lit(float(km_ok)).alias("val"),
    )
    return (
        pairs.unionByName(cell_rows)
        .unionByName(sem_rows)
        .unionByName(km_row)
    )


def _md5_minhash_cte(
    shingles: str,
    num_hashes: int = 32,
    bands: int = 8,
    source: str = "documents",
    bare: bool = False,
    prefix: str = "",
) -> str:
    """DuckDB twin of ``minhash_signatures`` +
    ``minhash_lsh_candidates``: same shingle hash (first 15 md5 hex
    chars as a 60-bit int, reduced mod the Mersenne prime), same affine
    permutation family, same band buckets (concatenated minima).

    ``source``: the relation the documents come from (a table name or
    an inline subquery exposing ``doc_id``/``text``); ``bare=True``
    omits the leading ``WITH `` so the CTE chain can be spliced into a
    larger WITH block (e.g. the curation funnel's); ``prefix`` renames
    every CTE (``sh``/``ex``/``sig``/``banded``/``cand`` ->
    ``<p>sh``...) so two instances can coexist in one WITH block."""
    p = prefix
    rpb = num_hashes // bands
    base = "(CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647)"
    mins = ",\n    ".join(
        f"min(({base} * {2 * i + 1} + {7 * i + 3}) % 2147483647) AS m{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT id, {b} AS band, "
        + " || '|' || ".join(f"m{b * rpb + r}::VARCHAR" for r in range(rpb))
        + f" AS bucket FROM {p}sig"
        for b in range(bands)
    )
    return f"""
{'' if bare else 'WITH '}{p}sh AS MATERIALIZED (
  SELECT doc_id AS id, {shingles} AS shl FROM {source}
), {p}ex AS (
  SELECT id, unnest(shl) AS s FROM {p}sh
), {p}sig AS (
  SELECT id,
    {mins}
  FROM {p}ex GROUP BY id
), {p}banded AS (
{band_rows}
), {p}cand AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*)::BIGINT AS n_shared_bands
  FROM {p}banded l JOIN {p}banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
  GROUP BY 1, 2
)
"""


def _md5_simhash_sql(max_hamming: int = 3, bands: int = 4) -> str:
    """DuckDB twin of ``simhash_pairs``: same token
    hash (first 15 md5 hex chars = 60 bits), same per-bit vote sums,
    same 15-bit band buckets, same Hamming filter."""
    bits = SIMHASH_BITS
    rpb = bits // bands
    mask = (1 << rpb) - 1
    votes = ",\n    ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)" for b in range(bits)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT id, sig, {b} AS band, (sig >> {b * rpb}) & {mask} AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""
WITH tok AS (
  SELECT doc_id AS id,
         unnest(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS t
  FROM documents
), h AS (
  SELECT id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok
), v AS (
  SELECT id,
    {votes}
  FROM h GROUP BY id
), sig AS (
  SELECT id, {sig} AS sig FROM v
), banded AS (
{band_rows}
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b, l.sig AS sa, r.sig AS sb
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
)
SELECT id_a, id_b, bit_count(xor(sa, sb))::BIGINT AS hamming
FROM cand
WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


def _simhash_phash_sql() -> str:
    """dedup_simhash oracle: the text SimHash twin plus a SQL replay
    of the ENTIRE image pHash pipeline over the query's formula
    images — luma plane from the integer pixel formulas (PNG/constant-
    JPEG/constant-GIF decodes are exact, BT.601 for the color
    constants), nearest 32x32 resample (index map ``i*h//32``, i.e.
    ``i//2`` for the 16x16 image), the 8x8 low-frequency DCT block as
    explicit cos-product sums rounded to 6 decimals (the rounding is
    part of the hash spec — it lands analytically-zero coefficients
    on exactly 0.0 on every platform), median threshold via
    ``quantile_cont(0.5)`` (= numpy's even-count median, the mean of
    the two middle order statistics), per-bit rows, and Hamming pairs
    at <= 3. The audio legs replay the spectral fingerprint the same
    way, one level up: the tone fixtures make each cell's
    above-median verdict pure arithmetic of the band SEQUENCE
    (leakage-free bins + the 3-decimal cell rounding), so the oracle
    derives the bit grid from the sequences alone. Nothing is taken
    from the engine: a decoder, DCT, or FFT-binning bug shows up as a
    hash mismatch."""
    px_formulas = [
        ("-1", "((x.i*x.i*7 + y.i*y.i*3 + x.i*y.i) % 256)::DOUBLE"),
        # -9: BMP encode of the SAME pattern as -1 (lossless) —
        # identical formula, so the oracle derives the hamming-0 pair
        # (mid > -10 keeps it in the image modality partition)
        ("-9", "((x.i*x.i*7 + y.i*y.i*3 + x.i*y.i) % 256)::DOUBLE"),
        (
            "-2",
            "((x.i*x.i*7 + y.i*y.i*3 + x.i*y.i"
            " + CASE WHEN x.i = 5 THEN 8 ELSE 0 END) % 256)::DOUBLE",
        ),
        ("-3", "((x.i*13 + y.i*29 + x.i*y.i*5) % 256)::DOUBLE"),
        # 16x16 source through the nearest 32x32 resample: src = i//2
        ("-4", "(((x.i//2)*(x.i//2)*11 + (y.i//2)*(y.i//2)*5) % 256)::DOUBLE"),
        ("-5", "77.0"),
        ("-6", "77.0"),  # constant JPEG decodes exactly (DC-only blocks)
        ("-7", "0.299*10 + 0.587*200 + 0.114*30"),  # BT.601 luma, const RGB
        ("-8", "0.299*40 + 0.587*80 + 0.114*120"),  # const GIF first frame
        # video means (video_phash64 samples i*2//4 = [0,0,1,1] of the
        # 2-frame fixtures -> mean = (f0+f1)/2, replayed through the
        # SAME DCT pipeline; -24's animated constant GIF averages to a
        # constant plane — any positive constant yields the same bits)
        (
            "-21",
            "(((x.i*x.i*7 + y.i*y.i*3 + x.i*y.i) % 256)"
            " + ((x.i*13 + y.i*29 + x.i*y.i*5) % 256)) / 2.0",
        ),
        (
            "-22",
            "(((x.i*x.i*7 + y.i*y.i*3 + x.i*y.i"
            " + CASE WHEN x.i = 5 THEN 16 ELSE 0 END) % 256)"
            " + ((x.i*13 + y.i*29 + x.i*y.i*5) % 256)) / 2.0",
        ),
        ("-23", "((x.i*31 + y.i*17 + x.i*x.i*5) % 256)::DOUBLE"),
        ("-24", "60.0"),
        # MJPEG-AVI fixtures: block-constant frames (block index =
        # pixel//8) in 128+3Z decode byte-exactly through the q90
        # JPEG tier, so the decoded pixels ARE these formulas; the
        # 2-frame temporal mean is (f0+f1)/2 like the Y4M legs
        (
            "-51",
            "((128 + 3*(((x.i//8)*7 + (y.i//8)*3 + (x.i//8)*(y.i//8)) % 30)"
            " - 45) + (128 + 3*(((x.i//8)*13 + (y.i//8)*5) % 30) - 45)) / 2.0",
        ),
        (
            "-52",
            "((128 + 3*(((x.i//8)*7 + (y.i//8)*3 + (x.i//8)*(y.i//8)) % 30)"
            " - 45 + CASE WHEN x.i//8 = 2 THEN 36 ELSE 0 END)"
            " + (128 + 3*(((x.i//8)*13 + (y.i//8)*5) % 30) - 45)) / 2.0",
        ),
        (
            "-53",
            "(128 + 3*(((x.i//8)*11 + (y.i//8)*7 + (x.i//8)*(x.i//8)) % 30)"
            " - 45)::DOUBLE",
        ),
    ]
    px_union = "\n  UNION ALL\n".join(
        f"  SELECT {mid}::BIGINT AS mid, y.i AS y, x.i AS x, {v} AS v\n"
        "  FROM range(32) y(i), range(32) x(i)"
        for mid, v in px_formulas
    )
    return f"""
WITH px AS (
{px_union}
), coef AS (
  SELECT mid, u.i AS u, v.i AS v,
         round(sum(px.v * cos(pi() * (2*px.y + 1) * u.i / 64)
                        * cos(pi() * (2*px.x + 1) * v.i / 64)), 6) AS c
  FROM px, range(8) u(i), range(8) v(i)
  GROUP BY 1, 2, 3
), med AS (
  SELECT mid, quantile_cont(c, 0.5) AS m FROM coef GROUP BY 1
), bits AS (
  SELECT coef.mid, (coef.u * 8 + coef.v)::BIGINT AS pos,
         (CASE WHEN coef.c > med.m THEN 1 ELSE 0 END)::BIGINT AS bit
  FROM coef JOIN med ON coef.mid = med.mid
), ham AS (
  -- pairs stay within a modality family: image mids are > -10,
  -- video mids < -20 (the engine's per-kind hamming_pairs joins)
  SELECT a.mid AS id_a, b.mid AS id_b,
         sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)::BIGINT AS hamming
  FROM bits a JOIN bits b
    ON a.pos = b.pos AND a.mid < b.mid
   AND (a.mid > -10) = (b.mid > -10)
  GROUP BY 1, 2
), aud_seq(mid, seq) AS (
  -- per-segment band sequences of the engine's tone fixtures; the
  -- fingerprint recipe makes the bit grid pure arithmetic of these
  -- (leakage-free bins, quantization noise rounds to 0.0 — see the
  -- query docstring): bit(bucket*8+band) = 1 iff seq[bucket] = band.
  -- -14 is silence: every cell 0, nothing exceeds the median.
  -- mids in (-31..-33) are MPEG-1 Layer I encodes and (-41..-43)
  -- Layer II encodes of the same sequences (compressed-domain
  -- fingerprints, identical bit-grid contract)
  VALUES (-11, [0, 1, 2, 3, 4, 5, 6, 7]),
         (-12, [0, 1, 2, 3, 4, 5, 6, 6]),
         (-13, [7, 6, 5, 4, 3, 2, 1, 0]),
         (-14, CAST(NULL AS INT[])),
         (-31, [0, 1, 2, 3, 4, 5, 6, 7]),
         (-32, [0, 1, 2, 3, 4, 5, 6, 6]),
         (-33, [7, 6, 5, 4, 3, 2, 1, 0]),
         (-41, [0, 1, 2, 3, 4, 5, 6, 7]),
         (-42, [0, 1, 2, 3, 4, 5, 6, 6]),
         (-43, [7, 6, 5, 4, 3, 2, 1, 0])
), aud_bits AS (
  SELECT mid, (p.i)::BIGINT AS pos,
         (CASE WHEN seq IS NOT NULL AND seq[p.i // 8 + 1] = p.i % 8
               THEN 1 ELSE 0 END)::BIGINT AS bit
  FROM aud_seq, range(64) p(i)
), aud_ham AS (
  SELECT a.mid AS id_a, b.mid AS id_b,
         sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)::BIGINT AS hamming
  FROM aud_bits a JOIN aud_bits b ON a.pos = b.pos AND a.mid < b.mid
  GROUP BY 1, 2
)
SELECT 'text' AS kind, id_a, id_b, hamming FROM (
{_md5_simhash_sql()}
) t
UNION ALL
SELECT 'img_bits' AS kind, mid AS id_a, pos AS id_b, bit AS hamming
FROM bits WHERE mid > -10
UNION ALL
SELECT 'img_pair' AS kind, id_a, id_b, hamming
FROM ham WHERE hamming <= 3 AND id_a > -10
UNION ALL
SELECT 'aud_bits' AS kind, mid AS id_a, pos AS id_b, bit AS hamming FROM aud_bits
UNION ALL
SELECT 'aud_pair' AS kind, id_a, id_b, hamming FROM aud_ham WHERE hamming <= 3
UNION ALL
SELECT 'vid_bits' AS kind, mid AS id_a, pos AS id_b, bit AS hamming
FROM bits WHERE mid < -20
UNION ALL
SELECT 'vid_pair' AS kind, id_a, id_b, hamming
FROM ham WHERE hamming <= 3 AND id_a < -20
"""


def _nd_admit_cte(
    shingles: str, prefix: str = "", source: str = "documents"
) -> str:
    """Bare CTE chain replaying the two-batch (even ids first, odd
    ids second) ``incremental_near_dedup`` admit sequence over
    ``source``: md5 MinHash signatures, banded candidates, estimated
    Jaccard at 0.5, per-parity in-batch components (keep the minimum
    id), odd-batch history hits against the STORED (signature-bearing)
    even survivors. Exposes ``<p>nd1_ids``/``<p>nd2_ids`` (all
    survivors) and ``<p>nd1_stored``/``<p>nd2_stored`` (the
    signature-store content). ``prefix`` isolates the names so
    multiple admit replays coexist in one WITH block. Splice after
    ``WITH RECURSIVE`` (the component reachability is recursive)."""
    p = prefix
    agree_sum = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(32)
    )
    return (
        _md5_minhash_cte(shingles, bare=True, source=source, prefix=p)
        + f""",
{p}nd_agree AS (
  SELECT c.id_a, c.id_b
  FROM {p}cand c JOIN {p}sig a ON a.id = c.id_a JOIN {p}sig b ON b.id = c.id_b
  WHERE ({agree_sum}) / 32.0 >= 0.5
),
{p}nd_e_edges AS (
  SELECT id_a AS src, id_b AS dst FROM {p}nd_agree WHERE id_a % 2 = 0 AND id_b % 2 = 0
  UNION
  SELECT id_b, id_a FROM {p}nd_agree WHERE id_a % 2 = 0 AND id_b % 2 = 0
),
{p}nd_e_reach(id, lbl) AS (
  SELECT src, src FROM {p}nd_e_edges
  UNION
  SELECT e.dst, r.lbl FROM {p}nd_e_reach r JOIN {p}nd_e_edges e ON e.src = r.id
),
{p}nd_e_comp AS (SELECT id, min(lbl) AS cid FROM {p}nd_e_reach GROUP BY id),
{p}nd1_ids AS (
  SELECT doc_id AS id FROM {source}
  WHERE doc_id % 2 = 0
    AND doc_id NOT IN (SELECT id FROM {p}nd_e_comp WHERE id <> cid)
),
{p}nd1_stored AS (
  SELECT id FROM {p}nd1_ids WHERE id IN (SELECT id FROM {p}sig)
),
{p}nd_o_edges AS (
  SELECT id_a AS src, id_b AS dst FROM {p}nd_agree WHERE id_a % 2 = 1 AND id_b % 2 = 1
  UNION
  SELECT id_b, id_a FROM {p}nd_agree WHERE id_a % 2 = 1 AND id_b % 2 = 1
),
{p}nd_o_reach(id, lbl) AS (
  SELECT src, src FROM {p}nd_o_edges
  UNION
  SELECT e.dst, r.lbl FROM {p}nd_o_reach r JOIN {p}nd_o_edges e ON e.src = r.id
),
{p}nd_o_comp AS (SELECT id, min(lbl) AS cid FROM {p}nd_o_reach GROUP BY id),
{p}nd2_ids AS (
  SELECT doc_id AS id FROM {source} k
  WHERE doc_id % 2 = 1
    AND doc_id NOT IN (SELECT id FROM {p}nd_o_comp WHERE id <> cid)
    AND NOT EXISTS (
      SELECT 1 FROM {p}nd_agree g
      WHERE (g.id_a = k.doc_id AND g.id_b IN (SELECT id FROM {p}nd1_stored))
         OR (g.id_b = k.doc_id AND g.id_a IN (SELECT id FROM {p}nd1_stored))
    )
),
{p}nd2_stored AS (
  SELECT id FROM {p}nd2_ids WHERE id IN (SELECT id FROM {p}sig)
)
"""
    )


_SHINGLES = (
    f"list_distinct(list_transform("
    f"range(1, greatest(len(regexp_extract_all(lower(text), '{TOKEN_RE}')) - 2, 0) + 1), "
    f"i -> regexp_extract_all(lower(text), '{TOKEN_RE}')[i] || ' ' || "
    f"regexp_extract_all(lower(text), '{TOKEN_RE}')[i+1] || ' ' || "
    f"regexp_extract_all(lower(text), '{TOKEN_RE}')[i+2]))"
)

_MINHASH_CTE = _md5_minhash_cte(_SHINGLES)

# incremental_near_dedup twin: estimated-Jaccard pairs over the
# banded candidates, per-parity in-batch components, history hits
# of odd keepers against the stored (signature-bearing) even
# survivors — the same admit arithmetic the engine runs. Two
# instances in one WITH block: the full-corpus chain (nd1/nd2
# legs, unprefixed) and the 20%-subset chain ('c_' prefix) that
# replays the CDF-driven streaming maintenance twin.
# the cdfnd replay: ONE joint-batch admit over the 20% subset
# (the streamed multi-version drain lands both versions in one
# micro-batch) — in-batch components keep the min id, stored =
# signature-bearing keepers, fp pins all 32 minima per id
_SIG_RENDER = " || ',' || ".join(f"m{i}::VARCHAR" for i in range(32))

_AGREE_SUM = " + ".join(
    f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(32)
)

_CDF_CTE = (
    _md5_minhash_cte(
        _SHINGLES,
        bare=True,
        source="(SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0)",
        prefix="c_",
    )
    + f""",
c_agree AS (
  SELECT c.id_a, c.id_b
  FROM c_cand c JOIN c_sig a ON a.id = c.id_a JOIN c_sig b ON b.id = c.id_b
  WHERE ({_AGREE_SUM}) / 32.0 >= 0.5
),
c_edges AS (
  SELECT id_a AS src, id_b AS dst FROM c_agree
  UNION
  SELECT id_b, id_a FROM c_agree
),
c_reach(id, lbl) AS (
  SELECT src, src FROM c_edges
  UNION
  SELECT e.dst, r.lbl FROM c_reach r JOIN c_edges e ON e.src = r.id
),
c_comp AS (SELECT id, min(lbl) AS cid FROM c_reach GROUP BY id),
c_stored AS (
  SELECT id, md5({_SIG_RENDER}) AS sig_fp FROM c_sig
  WHERE id NOT IN (SELECT id FROM c_comp WHERE id <> cid)
)
"""
)

_ND_CTE = "WITH RECURSIVE " + _nd_admit_cte(_SHINGLES) + "," + _CDF_CTE

DEDUP_EXACT_FP_SQL = (
    _ND_CTE
    + """
SELECT 'exact' AS kind, md5(text) AS fp, count(*)::BIGINT AS n_copies, min(doc_id) AS keep_id
FROM documents GROUP BY 2
UNION ALL
SELECT 'normalized' AS kind, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
       count(*)::BIGINT AS n_copies, min(doc_id) AS keep_id
FROM documents GROUP BY 2
UNION ALL
SELECT 'inc1', coalesce(md5(text), '__null_text__'), CAST(NULL AS BIGINT), min(doc_id)
FROM documents WHERE doc_id % 2 = 0 GROUP BY 2
UNION ALL
-- NOT EXISTS, not NOT IN: a null-text doc in the even half would
-- NULL-poison a NOT IN subquery and empty the whole inc2 leg; the
-- sentinel mirrors the Spark store's null-text handling
SELECT 'inc2', fp, CAST(NULL AS BIGINT), keep_id FROM (
  SELECT coalesce(md5(text), '__null_text__') AS fp, min(doc_id) AS keep_id
  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
) o WHERE NOT EXISTS (
  SELECT 1 FROM documents e
  WHERE e.doc_id % 2 = 0 AND coalesce(md5(e.text), '__null_text__') = o.fp
)
UNION ALL
SELECT 'nd1', coalesce(md5(text), '__null_text__'), CAST(NULL AS BIGINT), doc_id
FROM documents WHERE doc_id IN (SELECT id FROM nd1_ids)
UNION ALL
SELECT 'nd2', coalesce(md5(text), '__null_text__'), CAST(NULL AS BIGINT), doc_id
FROM documents WHERE doc_id IN (SELECT id FROM nd2_ids)
UNION ALL
-- cdfnd leg: the CDF-driven streaming maintenance consumer over the
-- 20% subset — the streamed store's content pinned value-for-value:
-- one row per stored id, fp = md5 of the full rendered signature
SELECT 'cdfnd', sig_fp, CAST(NULL AS BIGINT), id
FROM c_stored
UNION ALL
-- snapshot_diff legs: same two synthesized corpus versions, same
-- full-outer fingerprint compare (sentinel for null text)
SELECT 'diff_' || status, coalesce(new_fp, old_fp), CAST(NULL AS BIGINT), id
FROM (
  SELECT coalesce(o.id, n.id) AS id, o.old_fp, n.new_fp,
         CASE WHEN o.old_fp IS NULL THEN 'added'
              WHEN n.new_fp IS NULL THEN 'removed'
              WHEN o.old_fp <> n.new_fp THEN 'changed' END AS status
  FROM (
    SELECT doc_id AS id, coalesce(md5(text), '__null_text__') AS old_fp
    FROM documents WHERE doc_id % 11 <> 3
  ) o
  FULL OUTER JOIN (
    SELECT doc_id AS id,
           coalesce(md5(CASE WHEN doc_id % 5 = 0 THEN text || '!' ELSE text END),
                    '__null_text__') AS new_fp
    FROM documents WHERE doc_id % 7 <> 0
  ) n ON o.id = n.id
)
WHERE status IS NOT NULL
"""
)

DEDUP_LSH_PIPELINE_SQL = (
    _MINHASH_CTE
    + """
SELECT 'candidate' AS kind, id_a, id_b, n_shared_bands::DOUBLE AS val FROM cand
UNION ALL
SELECT 'verified' AS kind, id_a, id_b, jaccard AS val FROM (
  SELECT c.id_a, c.id_b,
    round(CASE WHEN len(list_distinct(a.shl || b.shl)) > 0
          THEN CAST(len(list_intersect(a.shl, b.shl)) AS DOUBLE)
               / len(list_distinct(a.shl || b.shl))
          ELSE 0.0 END, 6) AS jaccard
  FROM cand c
  JOIN sh a ON a.id = c.id_a
  JOIN sh b ON b.id = c.id_b
)
WHERE jaccard >= 0.5
"""
)

DEDUP_SIMHASH_SQL = _simhash_phash_sql()

# transitive closure by recursive CTE: reach(id, lbl) grows the
# set of component-mates per node; min over it = the same
# min-label fixpoint duplicate_clusters iterates to.
DEDUP_CLUSTERS_SQL = (
    _MINHASH_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + """
, verified AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b
  WHERE round(CASE WHEN len(list_distinct(a.shl || b.shl)) > 0
        THEN CAST(len(list_intersect(a.shl, b.shl)) AS DOUBLE)
             / len(list_distinct(a.shl || b.shl))
        ELSE 0.0 END, 6) >= 0.5
), edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION
  SELECT id_b, id_a FROM verified
), reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
), cust AS (
  SELECT c_custkey AS id, c_name AS nm, c_nationkey AS nk, c_mktsegment AS seg
  FROM customer
), er_links AS (
  SELECT l.id AS src, r.id AS dst
  FROM cust l JOIN cust r
    ON l.nk = r.nk AND l.seg = r.seg AND l.id < r.id
   AND levenshtein(l.nm, r.nm) <= 1
), er_edges AS (
  SELECT src, dst FROM er_links UNION SELECT dst, src FROM er_links
), er_reach(id, lbl) AS (
  SELECT src, src FROM er_edges
  UNION
  SELECT e.dst, r.lbl FROM er_reach r JOIN er_edges e ON e.src = r.id
)"""
    + _graph.pagerank_cte_fragment(min_support=2, damping=0.85, n_iter=5)
    + _graph.triangle_cte_fragment("edges")
    + """
SELECT 'doc' AS kind, id, min(lbl)::BIGINT AS cluster_id FROM reach GROUP BY id
UNION ALL
SELECT 'er' AS kind, id, min(lbl)::BIGINT AS cluster_id FROM er_reach GROUP BY id
UNION ALL
SELECT 'tri' AS kind, id, n_triangles AS cluster_id FROM g_tri
UNION ALL
"""
    + _graph.pagerank_ppb_leg_sql()
    + "\n"
)

DEDUP_NGRAM_JACCARD_SQL = f"""
WITH s AS (
  SELECT doc_id AS id, lang, floor(length(text) / 100)::BIGINT AS blk,
         {_SHINGLES} AS sh
  FROM documents
  WHERE doc_id % 5 = 0
)
SELECT l.id AS id_a, r.id AS id_b,
  round(CASE WHEN len(list_distinct(l.sh || r.sh)) > 0
        THEN CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) / len(list_distinct(l.sh || r.sh))
        ELSE 0.0 END, 6) AS jaccard
FROM s l JOIN s r ON l.blk = r.blk AND l.lang = r.lang AND l.id < r.id
ORDER BY jaccard DESC, id_a, id_b
LIMIT 200
"""

DEDUP_EMBEDDING_COSINE_SQL = """
WITH RECURSIVE s AS (
  SELECT vec_id AS id, embedding AS v,
    list_sum(list_transform(range(1, 9),
      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) >= 0 THEN (1 << (i - 1)) ELSE 0 END)) AS bucket
  FROM embeddings
), cent AS (
  -- SemDeDup seed centroids: the first max(32, ceil(sqrt(n))) vectors
  -- by id — the same adaptive cell count the engine computes (cells
  -- must scale with the corpus to bound the in-cell quadratic pass)
  SELECT cell, center FROM (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS center
    FROM embeddings
  ) WHERE cell < (
    SELECT greatest(32, CAST(ceil(sqrt(count(*))) AS INTEGER)) FROM embeddings
  )
), assigned AS (
  SELECT id, cell FROM (
    SELECT e.vec_id AS id, ct.cell,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        list_sum(list_transform(range(1, len(e.embedding) + 1),
          i -> (CAST(e.embedding[i] AS DOUBLE) - ct.center[i])
             * (CAST(e.embedding[i] AS DOUBLE) - ct.center[i]))), ct.cell) AS rn
    FROM embeddings e CROSS JOIN cent ct
  ) WHERE rn = 1
), sem_links AS (
  SELECT l.id AS src, r.id AS dst
  FROM s l
  JOIN s r ON l.id < r.id
  JOIN assigned al ON al.id = l.id
  JOIN assigned ar ON ar.id = r.id AND ar.cell = al.cell
  WHERE round(
      list_sum(list_transform(range(1, len(l.v) + 1),
        i -> CAST(l.v[i] AS DOUBLE) * CAST(r.v[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(l.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(r.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
    6) >= 0.3
), sem_edges AS (
  SELECT src, dst FROM sem_links UNION SELECT dst, src FROM sem_links
), sem_reach(id, lbl) AS (
  SELECT src, src FROM sem_edges
  UNION
  SELECT e.dst, r.lbl FROM sem_reach r JOIN sem_edges e ON e.src = r.id
), sem_comp AS (
  SELECT id, min(lbl) AS cluster_id FROM sem_reach GROUP BY id
)
SELECT 'pair' AS kind, id_a, id_b, val FROM (
  SELECT l.id AS id_a, r.id AS id_b,
    round(
      list_sum(list_transform(range(1, len(l.v) + 1),
        i -> CAST(l.v[i] AS DOUBLE) * CAST(r.v[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(l.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(r.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
    6) AS val
  FROM s l JOIN s r ON l.bucket = r.bucket AND l.id < r.id
)
WHERE val >= 0.3
UNION ALL
SELECT 'sem_cell', id, cell::BIGINT, CAST(NULL AS DOUBLE) FROM assigned
UNION ALL
SELECT 'sem', a.id, coalesce(c.cluster_id, a.id)::BIGINT,
       CASE WHEN coalesce(c.cluster_id, a.id) = a.id THEN 1.0 ELSE 0.0 END
FROM assigned a LEFT JOIN sem_comp c ON c.id = a.id
UNION ALL
-- sem_km gauge row: the Lloyd path labels every vector exactly once
-- (id_b = corpus count) and its verdict holds (val = 1: one min-id
-- keep per component, kmeans within-cell distortion <= seed's)
SELECT 'sem_km', -1, (SELECT count(*) FROM embeddings)::BIGINT, 1.0
"""
