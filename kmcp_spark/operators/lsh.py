"""LSH banding + the bucket -> capped-pairs kernel (the `kmcp index` +
`search` probe analog).

kmcp packs k-mer sets into a COBS bit-sliced Bloom matrix and probes it
with vectorized popcount (`kmcp/cmd/index.go:923-1331`,
`kmcp/cmd/util-db-search.go:1434-7409`).  The Spark-native equivalent is
MinHash-LSH banding: the signature is cut into ``bands`` bands of
``rows_per_band`` values; each band hashes to a bucket; any two ids
sharing a bucket in any band become a candidate pair.  Candidate
generation is then ONE shuffle (a window over the bucket key) instead
of an index structure.

:func:`bucket_pairs` is the one implementation of "key-bucket, cap hot
keys, expand pairs".  Band keys are posting lists (the *Columnar
Formatted Inverted Index* view), so every pair path is a posting-list
self-join and calls it: clip and document MinHash bands, SimHash bands,
chunk bands (struct ids) and the exact n-gram scorers (one bucket per
gram).  Oversized buckets are either dropped or ESCALATED to min/max
anchor edges — the analog of kmcp's block-size escalation 256->8->1
(`kmcp/cmd/index.go:787-894` / flags `:1453-1463`) — and are always
returned for the metrics table (no silent caps).

Landmark matching (operators/landmark.py) keeps its own self-join: its
cap counts DISTINCT clips per code, not rows, and its pairs carry
per-posting frame offsets for the offset vote.  Folding it in would make
the kernel branch on which caller it serves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def band_rows(src: DataFrame, bands: int, rows_per_band: int,
              id_col: str, sig_col: str = "minhash",
              band_offset: int = 0) -> DataFrame:
    """(id, band_id, band_hash) band relation from minhash signatures.

    THE banding kernel: one recipe serves the clip pipeline
    (``band_buckets``), the document path and chunk entities, so the
    hash recipe can never desynchronize between them — every path and
    the staged skew-oracle tables derive from this exact expression.
    The band hash is computed JVM-side: ``xxhash64(band_id,
    slice(sig))`` — no Python in this stage at all.

    ``sig_col``/``band_offset`` let domain-scoped signatures (text-only
    / audio-only MinHash, SketchConfig.domain_perm) reuse the same
    kernel under disjoint band_id ranges, so combined and domain bands
    coexist in one bucket table without key collisions.
    """
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band_offset + b).alias("band_id"),
                F.xxhash64(
                    F.lit(band_offset + b),
                    F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return (
        src.filter(F.col(sig_col).isNotNull())
        .select(id_col, F.explode(band_structs).alias("band"))
        .select(id_col, F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash"))
    )


# band_id ranges for domain-scoped bands (disjoint from the combined
# signature's 0..bands-1 so (band_id, band_hash) keys never cross)
_TEXT_BAND_BASE = 10_000
_AUDIO_BAND_BASE = 20_000

# the bucket key of every band relation (``bucket_pairs`` key_cols)
BAND_KEY = ["band_id", "band_hash"]


def band_buckets(
    sketches: DataFrame, bands: int, rows_per_band: int, domain_bands: int = 0
) -> DataFrame:
    """sketches -> buckets(band_id int, band_hash bigint, clip_id string).

    With ``domain_bands > 0`` the combined-signature bands are unioned
    with per-domain bands over ``minhash_text`` / ``minhash_audio``
    (NULL domain signatures — empty shingle sets, decode failures —
    emit no rows), so single-modality duplicates become candidates:
    a re-recorded script (text Jaccard 1.0, audio ~0) collides in
    every text band regardless of how much audio dilutes the combined
    signature.  Downstream shape is unchanged — one shuffle over the
    same (band_id, band_hash) key space."""
    out = band_rows(sketches, bands, rows_per_band, "clip_id")
    if domain_bands > 0:
        if "minhash_text" not in sketches.columns:
            raise ValueError(
                "domain_bands > 0 requires domain signatures: sketch with "
                "SketchConfig.domain_perm >= domain_bands * rows_per_band "
                f"(= {domain_bands * rows_per_band})"
            )
        out = out.union(
            band_rows(sketches, domain_bands, rows_per_band, "clip_id",
                      sig_col="minhash_text", band_offset=_TEXT_BAND_BASE)
        ).union(
            band_rows(sketches, domain_bands, rows_per_band, "clip_id",
                      sig_col="minhash_audio", band_offset=_AUDIO_BAND_BASE)
        )
    return out


def bucket_stats(buckets: DataFrame) -> DataFrame:
    """Bucket-size histogram (the `utils index-density` analog)."""
    return (
        buckets.groupBy(*BAND_KEY)
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(F.count("*").alias("n_buckets"))
        .orderBy("bucket_size")
    )


def bucket_pairs(
    rows: DataFrame,
    id_col: str,
    key_cols: list[str],
    max_bucket: int,
    oversized: str = "drop",
) -> tuple[DataFrame, DataFrame]:
    """rows(id, *keys) -> (pairs(a, b, shared), oversized_buckets).

    THE bucket -> capped-pairs kernel.  Every row puts ``id_col`` into
    the bucket named by ``key_cols``; any two ids sharing a bucket of
    size 1 < size <= ``max_bucket`` become a pair ``a < b`` (ids may be
    any orderable type, structs included), and ``shared`` counts the
    buckets that voted for it (kmcp's per-target match count A2).
    ``oversized_buckets`` is (*keys, bucket_size) of every bucket above
    the cap, so no cap is silent.

    ``oversized`` says what happens to those buckets:

    - ``"drop"``: they emit no pairs.  Nothing is persisted and the
      deferred-release registry is not touched, so a document query can
      never release the pipeline's lsh cache.
    - ``"escalate"`` (kmcp's block-size escalation 256->8->1,
      `kmcp/cmd/index.go:787-894`): every member is linked to the
      bucket's two deterministic anchors (min and max id).  That is
      O(size) edges instead of O(size^2); if the bucket really is one
      near-dup class the anchor edges pass verification and connected
      components restores the cluster.  Anchors come from the same
      window, so the escalation stays linear even for a 10^7-member
      bucket.
    """
    if oversized not in ("drop", "escalate"):
        raise ValueError(f"oversized must be 'drop' or 'escalate', got {oversized!r}")
    escalate = oversized == "escalate"
    # ONE shuffle of the bucket table: a whole-partition window over the
    # bucket key annotates every member with its bucket's size (and, when
    # escalating, min/max anchors).  The earlier shape (separate sizes
    # aggregation joined back onto buckets, then a bucket-key self-join)
    # re-derived the band table 3x and built two broadcast tables per
    # run — measured 2-3 s of driver-serial work per leg that did not
    # parallelize.
    w = Window.partitionBy(*key_cols)
    stats = [F.count("*").over(w).alias("bucket_size")]
    if escalate:
        stats += [
            F.min(id_col).over(w).alias("anchor_lo"),
            F.max(id_col).over(w).alias("anchor_hi"),
        ]
    ann = rows.select(*key_cols, id_col, *stats)
    # pair expansion happens IN-ROW from a collected member array; the
    # size filter runs BEFORE collect_list so arrays are bounded by
    # max_bucket (a 10^7-member bucket flows through the window's
    # spillable sort, never into an in-memory array).  The groupBy keys
    # match the window partitioning, so no second exchange.
    grouped = (
        ann.filter((F.col("bucket_size") > 1) & (F.col("bucket_size") <= max_bucket))
        .groupBy(*key_cols)
        .agg(F.collect_list(id_col).alias("members"))
    )
    pairs = (
        grouped.select("members", F.posexplode("members").alias("i", "ca"))
        .select(
            "ca",
            F.explode(F.slice("members", F.col("i") + 2, F.size("members"))).alias("cb"),
        )
        # an id can appear twice in one bucket (e.g. streaming unions
        # bands_new with prior band tables and a clip is re-delivered);
        # a strict a < b drops the resulting (a,a) rows
        .filter(F.col("ca") != F.col("cb"))
        .select(F.least("ca", "cb").alias("a"), F.greatest("ca", "cb").alias("b"))
    )
    over_rel = ann.filter(F.col("bucket_size") > max_bucket)
    if escalate:
        # escalation edges: member -> {min, max} anchor of its oversized
        # bucket — a narrow select off the annotated rows, no join.  The
        # oversized member rows are persisted (deferred-release protocol,
        # runtime.py: the next escalating call or the pipeline's
        # end-of-run sweep releases them) so that the caller's follow-up
        # oversized count is a cache read instead of a second full band
        # derivation (measured ~1.4 s/leg).  Bounded by actual skew: only
        # members of >max_bucket buckets land here (none on a healthy
        # corpus), and MEMORY_AND_DISK spills if a pathological one floods.
        from pyspark import StorageLevel

        from kmcp_spark.runtime import defer_unpersist, release_deferred

        release_deferred(tag="lsh")
        over_rel = defer_unpersist(
            over_rel.persist(StorageLevel.MEMORY_AND_DISK), tag="lsh"
        )
        escalated = (
            over_rel.select(
                id_col, F.explode(F.array("anchor_lo", "anchor_hi")).alias("anchor")
            )
            .filter(F.col(id_col) != F.col("anchor"))
            .select(
                F.least(id_col, "anchor").alias("a"),
                F.greatest(id_col, "anchor").alias("b"),
            )
        )
        pairs = pairs.union(escalated)
    return (
        pairs.groupBy("a", "b").agg(F.count("*").alias("shared")),
        over_rel.select(*key_cols, "bucket_size").distinct(),
    )
