"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

North-star extensions (BASELINE.json): the reference has only element
``distinct`` (operations/CanDistinct.scala, unverified); a training-data
pipeline needs content-level dedup that scales to 100 TB:

- exact: content-hash groupBy — one shuffle on a 128-bit key, no text
  comparison; keep the min-id representative.
- MinHash+LSH: shingle → per-band minhash signature → bucket-join.
  Candidate generation is linear + one shuffle per band; NEVER the O(n²)
  all-pairs compare. Only same-bucket pairs are compared.
- SimHash: 16-bit sign-sum fingerprint; hamming-close fingerprints ≈
  similar docs. One explode + one agg.
- n-gram Jaccard: deterministic shingle SAMPLE (md5 prefix threshold —
  no RNG, reproducible across engines/runs) → pairs sharing a sampled
  shingle → exact Jaccard on the samples.

All hashing is md5 (standard algorithm → identical across engines),
which keeps every operator oracle-checkable; engine-specific murmur3
(``F.hash``/``F.xxhash64``) would be faster at scale — swap
``_HASH_EXPR`` if cross-engine checkability is not needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trembita_spark.checksum import md5_int60
from trembita_spark.io import run_tmp


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: (content_hash, keep_id,
    n_copies). Filter ``n_copies > 1`` for the dup report; anti-join
    ``keep_id`` back for the deduplicated corpus."""
    return df.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def shingles_expr(text_col: str, k: int = 3):
    """Word k-shingles as an array column.

    Built as ``transform(arrays_zip(slice(t,1,n), slice(t,2,n), …))``
    rather than index-lambda ``t[i], t[i+1], …``: higher-order-function
    lambdas are interpreted and re-evaluate captured expressions per
    ELEMENT ACCESS, so the indexed form re-splits the text ~3·n times
    per row (measured 2.7x slower end-to-end); the slice/zip form
    evaluates ``split`` a constant number of times. Guarded for docs
    shorter than k tokens."""
    toks = f"split({text_col}, ' ')"
    n = f"size({toks}) - {k - 1}"
    slices = ", ".join(f"slice({toks}, {j + 1}, {n})" for j in range(k))
    fields = ", ".join(f"s['{j}']" for j in range(k))
    return F.expr(
        f"CASE WHEN size({toks}) >= {k} THEN "
        f"transform(arrays_zip({slices}), s -> concat_ws(' ', {fields})) "
        f"ELSE array() END"
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bands: int = 4, k: int = 3
) -> DataFrame:
    """(id, band, sig): per-band minhash = lexicographic min of the
    band's 8-hex-char SLICE of a salted md5 over the doc's k-shingles.
    Docs with < k tokens are skipped.

    ONE scan, one projection: all band minima are computed over the same
    shingle array and unpivoted with a single explode — not one
    union-branch per band (which would rescan the source per band).

    Hash economics: one md5 per shingle serves FOUR bands (each band
    reads its own 32-bit slice of the 128-bit digest — independent by
    the avalanche property), so the scan computes ceil(bands/4) md5s
    per shingle instead of `bands`. md5 dominates the signature stage;
    measured ~20% off the whole sf0.1 candidate pipeline at bands=4.
    32-bit band keys keep random bucket collisions negligible
    (~n²·bands/2³³ false pairs — <1 even at n=20k)."""
    sh = shingles_expr(text_col, k)
    # Two optimization-round changes (guide §2.5, §1.2 step 1), both
    # bit-identical to the previous array-transform shape (verified
    # row-for-row):
    # 1. spread the under-split local scan BEFORE the shingle work so
    #    the hashing runs on every core, not inside the one scan task
    #    (no-op at production split counts). Shuffling (id, raw text)
    #    is cheap next to the per-shingle md5 work it parallelizes.
    # 2. explode the shingles and hash the COLUMN instead of running
    #    md5 inside F.transform lambdas: higher-order-function bodies
    #    are interpreted (no codegen), so per-element md5 paid ~2.3x
    #    over the codegen'd column path (measured 0.76s -> 0.33s at
    #    sf0.1). Per-band minima become a grouped min over substring
    #    slices; the groupBy(doc_id) is absorbed by the spread's hash
    #    distribution, so no extra shuffle is added. Docs with zero
    #    shingles vanish at the explode — same set the old
    #    size(sh) > 0 filter kept.
    from trembita_spark.io import spread_scan

    src = spread_scan(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col)), "doc_id"
    )
    groups = (bands + 3) // 4
    ex = src.select("doc_id", F.explode(sh).alias("__s"))
    hashed = ex.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"g{g}|"), F.col("__s"))).alias(f"__h{g}")
            for g in range(groups)
        ],
    )
    aggd = hashed.groupBy("doc_id").agg(
        *[
            F.min(F.substring(f"__h{b // 4}", 1 + 8 * (b % 4), 8)).alias(f"__b{b}")
            for b in range(bands)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"__b{b}").alias("sig"))
            for b in range(bands)
        ]
    )
    return aggd.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing any band
    signature. Work is proportional to the sum of bucket-size squares,
    not n squared — the LSH property that makes near-dup feasible at
    100 TB.

    Pairs are expanded INSIDE each bucket (groupBy + combination
    expression) — one shuffle total; a self-join here would shuffle and
    recompute the full signature pipeline twice. ``max_bucket`` skips
    degenerate hot buckets (boilerplate-heavy corpora) — standard LSH
    hygiene at scale; None keeps everything (exact contract semantics).
    """
    sig = minhash_signatures(df, text_col, id_col, bands, k)
    buckets = (
        sig.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    # all i<j combinations; ids sorted, so doc_a < doc_b by construction.
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    max_iters: int = 30,
    jumps: int = 2,
    cut_every: int = 3,
) -> DataFrame:
    """Resolve candidate pairs (doc_a, doc_b) into duplicate CLUSTERS:
    returns (node, cluster_id) where cluster_id = min doc id reachable in
    the pair graph. This is the step between "candidate pairs" (LSH) and
    the actual dedup decision — near-dup relations are not transitive,
    so pipelines cluster the candidate graph and keep one doc per
    component.

    Min-label propagation WITH pointer jumping: each round every node
    takes (a) the min of its own and its neighbors' labels, then (b) its
    label's label from the previous round's materialized map, applied
    ``jumps`` times (path halving). Step (a) alone is O(component
    diameter) rounds — real LSH pair graphs contain long sparse chains
    (a 216-node diameter->100 component exists in the sf0.01 fixture);
    (b) makes convergence O(log diameter). Labels are seeded with the
    direct-neighbor min (one groupBy — saves a full round vs identity
    init). Convergence probe: 0/1 aggregate of labels changed this
    round — type-agnostic (string/uuid ids converge correctly), and
    ``limit(1)`` short-circuits the scan.

    Materialization strategy (measured, see tests/test_llm_ops.py
    chain tests): rounds end in an eager localCheckpoint, and every
    ``cut_every`` rounds the labels are written to a per-run temp
    PARQUET dir and re-read — a hard lineage/block-state cut. Pure
    localCheckpoint chains degrade geometrically after ~10 rounds on
    Spark 4.1 local mode (join rounds over repeatedly-checkpointed
    RDDs re-execute ancestor work; measured 0.7s -> 100+s per round);
    the periodic storage round-trip keeps per-round cost flat, and at
    100 TB it is exactly the fault-tolerance checkpoint a production
    iterative job wants anyway (labels/edges shuffle on node id each
    round — the standard large-star/small-star regime).
    """
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    edges = edges.persist()
    spark = pairs.sparkSession
    tmp = run_tmp("cc")
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("nmin"))
        .select("node", F.least(F.col("node"), F.col("nmin")).alias("lab"))
        .localCheckpoint(eager=True)
    )
    for i in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.min("lab").alias("nbr_lab"))
        )
        nbr_stepped = (
            labels.join(nbr_min, labels.node == nbr_min.node2, "left")
            .select(
                "node",
                F.col("lab").alias("old_lab"),
                F.least(F.col("lab"), F.coalesce("nbr_lab", "lab")).alias("lab"),
            )
        )
        # pointer jumps through the PREVIOUS round's materialized map:
        # lab <- min(lab, prev_lab(lab)), applied ``jumps`` times. Every
        # label IS a node (labels start as self/neighbor ids and only
        # ever copy node ids), so the lookup join always has a match
        # candidate. Each extra jump is one more join against the SAME
        # already-materialized map but multiplies the per-round path
        # contraction.
        stepped = nbr_stepped
        for j in range(jumps):
            lab_map = labels.select(
                F.col("node").alias(f"pnode{j}"), F.col("lab").alias(f"plab{j}")
            )
            stepped = (
                stepped.join(lab_map, stepped.lab == F.col(f"pnode{j}"), "left")
                .select(
                    "node",
                    "old_lab",
                    F.least(
                        F.col("lab"), F.coalesce(f"plab{j}", "lab")
                    ).alias("lab"),
                )
            )
        if (i + 1) % cut_every == 0:
            path = f"{tmp}/round_{i}"
            stepped.write.mode("overwrite").parquet(path)
            stepped = spark.read.parquet(path)
        else:
            stepped = stepped.localCheckpoint(eager=True)
        changed = (
            stepped.where(F.col("lab") != F.col("old_lab")).limit(1).count()
        )
        labels = stepped.select("node", "lab")
        if changed == 0:
            break
    edges.unpersist()
    return labels.select("node", F.col("lab").alias("cluster_id"))


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """(doc_id, cluster_id) for EVERY document: near-dup candidate pairs
    (MinHash+LSH) resolved into components; docs with no candidate are
    their own singleton cluster. ``doc_id == cluster_id`` marks the
    canonical (kept) representative — min id per cluster."""
    pairs = minhash_lsh_candidates(df, text_col, id_col, bands, k)
    cc = connected_components(pairs)
    return df.select(F.col(id_col).alias("doc_id")).join(
        cc, F.col("doc_id") == cc.node, "left"
    ).select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """Per-doc ``bits``-bit SimHash over word tokens: bit j is the sign of
    sum(±1 per token by token-hash bit j). Near-identical docs differ in
    few bits (compare via hamming distance on the fingerprint)."""
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).withColumn("h", md5_int60(F.md5(F.col("token"))))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    agg = ex.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select("doc_id", fp.cast("bigint").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    sample_prefix: str = "2",
    min_jaccard: float = 0.2,
) -> DataFrame:
    """Exact Jaccard over a DETERMINISTIC sample of k-shingles
    (``md5(shingle) < sample_prefix`` keeps ~prefix/16 of shingles — a
    content-keyed sample, reproducible with no RNG). Pairs come from the
    sampled-shingle inverted index (shared-shingle join), never all-pairs."""
    return (
        _shingle_overlap(df, text_col, id_col, k, sample_prefix)
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def _shingle_overlap(
    df: DataFrame, text_col: str, id_col: str, k: int, sample_prefix: str
) -> DataFrame:
    """(doc_a, doc_b, inter, sz_a, sz_b) for every doc pair a < b that
    shares a sampled k-shingle: the sample keeps shingles with
    ``md5(shingle) < sample_prefix``, ``inter`` counts the shared ones
    and ``sz_*`` each doc's sample size. Pairs come from the
    shared-shingle join, never all-pairs."""
    sh = shingles_expr(text_col, k)
    doc_sh = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(sh).alias("sh"))
        .filter(F.md5("sh") < sample_prefix)
        .distinct()
    )
    sizes = doc_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = doc_sh.alias("a")
    b = doc_sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
    )


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Admission control for a NEW batch against an EXISTING corpus —
    the shape ingest dedup takes at 100 TB, where re-deduping the whole
    corpus per arrival is impossible. A batch doc is admitted iff it is
    (a) no exact duplicate (content hash) of any corpus doc and (b) no
    LSH candidate (shared minhash band bucket) of any corpus doc.

    Returns (doc_id, exact_dup, near_dup, admitted) for every batch doc.

    Scale shape: the corpus side reduces to two small distinct-key
    tables — content hashes and (band, sig) buckets — that in practice
    persist as the dedup INDEX and only grow by the admitted batch each
    cycle; both probes are semi joins whose shuffle is ∝ |batch| plus
    the touched buckets, never ∝ |corpus|. No pair expansion anywhere
    (candidates collapse through semi-join, not a pair list).
    """
    base = batch.select(F.col(id_col).alias("doc_id"))
    bh = batch.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("h")
    )
    ch = corpus.select(F.md5(F.col(text_col)).alias("h")).distinct()
    exact_ids = bh.join(ch, "h", "left_semi").select("doc_id")

    bs = minhash_signatures(batch, text_col, id_col, bands=bands, k=k)
    cs = (
        minhash_signatures(corpus, text_col, id_col, bands=bands, k=k)
        .select("band", "sig")
        .distinct()
    )
    near_ids = (
        bs.join(cs, ["band", "sig"], "left_semi").select("doc_id").distinct()
    )

    e = exact_ids.withColumn("exact_dup", F.lit(True))
    n = near_ids.withColumn("near_dup", F.lit(True))
    return (
        base.join(e, "doc_id", "left")
        .join(n, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
        )
        .withColumn("admitted", ~(F.col("exact_dup") | F.col("near_dup")))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    sample_prefix: str = "2",
    min_containment: float = 0.5,
) -> DataFrame:
    """ASYMMETRIC near-dup detection by shingle containment:
    c(A→B) = |A∩B| / |A|. Jaccard misses the "short doc quoted inside a
    long one" case (the union term swamps it); containment flags it in
    either direction — keep a pair when max(c(A→B), c(B→A)) clears the
    threshold. Same machinery as :func:`ngram_jaccard_pairs`: a
    deterministic md5-prefix shingle sample and the inverted-index
    (shared-shingle) join — pair work ∝ Σ shingle-posting², never
    all-pairs."""
    return (
        _shingle_overlap(df, text_col, id_col, k, sample_prefix)
        .withColumn("cont_ab", F.col("inter") / F.col("sz_a"))
        .withColumn("cont_ba", F.col("inter") / F.col("sz_b"))
        .filter(F.greatest("cont_ab", "cont_ba") >= min_containment)
        .select("doc_a", "doc_b", "inter", "cont_ab", "cont_ba")
    )


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    k: int = 3,
    min_jaccard: float = 0.25,
) -> DataFrame:
    """The standard two-stage near-dup pipeline: MinHash-LSH CANDIDATES
    (recall stage, bucket-local expansion) followed by EXACT Jaccard
    verification (precision stage) computed ONLY for candidate pairs —
    the shape that makes exact similarity affordable at 100 TB: the
    verify join fans out |candidates| × shingles, never corpus².
    Returns (doc_a, doc_b, inter, jaccard) for pairs ≥ ``min_jaccard``;
    jaccard is an exact small-integer ratio (engine-identical double)."""
    cand = minhash_lsh_candidates(df, text_col, id_col, bands, k)
    sh = shingles_expr(text_col, k)
    idx = df.select(F.col(id_col).alias("doc_id"), F.explode(sh).alias("sh")).distinct()
    sizes = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = idx.select(F.col("doc_id").alias("doc_a"), "sh")
    b = idx.select(F.col("doc_id").alias("doc_b2"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(a, "doc_a")
        .join(b, (F.col("doc_b") == F.col("doc_b2")) & (F.col("sh") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return out.select("doc_a", "doc_b", "inter", "jaccard")


def duplicated_span_report(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Substring-level (span) duplication report, the scalable core of
    exact-substring training-data dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): a k-token span that
    appears in >= 2 DISTINCT documents is a duplicated span; each doc is
    scored by the fraction of its spans that are duplicated.

    Returns (doc_id, n_spans, n_dup_spans, dup_frac) for docs with at
    least one span. Downstream policy filters on dup_frac (drop or trim).

    Scale shape: spans are hashed to 60-bit ints (md5 fold) so the heavy
    groupBy shuffles fixed-width keys, never the span strings; the
    distinct-doc count per span is a two-level partial agg; the dup-span
    set joins back to the span stream ON THE SAME hash key, so the
    exchange from the aggregate is reused (co-partitioned sort-merge
    join, no extra shuffle of the big side); the per-doc rollup is one
    final partial agg. Nothing is ever corpus x corpus.
    """
    from trembita_spark.io import spread_scan

    # Spread the under-split scan so explode+md5 run cluster-wide
    # (no-op at production split counts), then cut lineage: three
    # consumers (dup-span agg, per-doc total, the semi-join probe)
    # would each re-run the whole shingle+hash derivation otherwise.
    spans = (
        spread_scan(
            df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")),
            "doc_id",
        )
        .select("doc_id", F.explode(shingles_expr("__t", k)).alias("gram"))
        .select("doc_id", md5_int60(F.md5(F.col("gram"))).alias("h"))
        .localCheckpoint(eager=False)
    )
    # distinct-doc count per span hash (within-doc repeats do not count)
    dup_h = (
        spans.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    flagged = spans.join(dup_h, "h", "left_semi")
    per_doc = spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    dup_per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans")
    )
    return (
        per_doc.join(dup_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            (
                F.coalesce("n_dup_spans", F.lit(0)).cast("double")
                / F.col("n_spans").cast("double")
            ).alias("dup_frac"),
        )
    )
