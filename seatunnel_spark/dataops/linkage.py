"""Probabilistic record linkage (Fellegi & Sunter 1969).

Entity resolution across two tables that share no reliable key — the
master-data step a training-data pipeline needs when the same entity
arrives from multiple feeds (two CRM extracts, crawl metadata vs a
catalog). Every pair gets a LOG-LIKELIHOOD score: per field, agreement
contributes log2(m/u) and disagreement log2((1-m)/(1-u)), where m is
the probability the field agrees on a TRUE match and u on a random
non-match. Scores are additive under field independence (the naive-
Bayes assumption the original paper makes explicitly), so the score is
a pure codegen projection — no Python in the hot path.

Scale shape: candidate pairs come from BLOCKING (equi-join on cheap
deterministic keys), never a cross join — the same discipline as the
dedup family's LSH buckets. Cost is Σ block², bounded by the
`max_block` hot-block cap (shared _cap_buckets semantics). All field
comparators are Catalyst expressions; with e exact comparators the
score is replayable in any SQL engine, which is what the DuckDB
oracle does.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["link_score_pairs", "link_field_weights",
           "link_dup_clusters", "golden_records"]


def _guard_pair_product(
    aa: DataFrame,
    bb: DataFrame,
    block_cols: list[str],
    max_pairs: int | None,
    on_oversize: str,
    split_col: str | None,
    n_splits: int,
    split_a: str | None = None,
    split_b: str | None = None,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Bound the per-block a×b candidate-pair PRODUCT before the
    block join — `max_block` alone caps each SIDE, but a block at
    the cap still yields up to cap² pairs, and block OCCUPANCY grows
    with data under a fixed blocking key, so candidates grow
    quadratically while every per-side guard stays silent.

    One aggregation per side over the block keys (map-side combined,
    block-cardinality-sized output) joined to per-block products;
    blocks over `max_pairs` are handled per `on_oversize`:

      * 'raise'  — ValueError naming the offending keys and their
        products (the loud default: an infeasible-at-scale blocking
        key is a caller bug, the `_cap_buckets` discipline made
        explicit);
      * 'split'  — refine ONLY the oversize blocks with a
        deterministic sub-key pmod(xxhash64(split_col), n_splits) on
        BOTH sides (the oversize key set is tiny and broadcast).
        True pairs that DISAGREE on `split_col` in an oversize block
        are lost — the standard blocking-refinement recall trade,
        warned with the affected block count;
      * 'drop'   — remove oversize blocks entirely (warned), the
        hot-bucket `_cap_buckets` semantics at pair granularity.

    Returns (aa, bb, join_keys). `max_pairs=None` disables the guard
    (and skips its aggregation entirely)."""
    keys = list(block_cols)
    if max_pairs is None:
        return aa, bb, keys
    if on_oversize not in ("raise", "split", "drop"):
        raise ValueError(f"on_oversize must be raise|split|drop, "
                         f"got {on_oversize!r}")
    if on_oversize == "split" and not split_col:
        raise ValueError("on_oversize='split' requires split_col")
    if split_col is not None and split_col in block_cols:
        # constant within every block -> pmod(xxhash64(const)) is one
        # sub-key -> the refinement silently does nothing (ADVICE r11)
        raise ValueError(
            f"split_col {split_col!r} is one of block_cols {block_cols}"
            f" — it is constant within each block, so splitting on it "
            f"cannot refine an oversize block; pick a column outside "
            f"the blocking key")
    occ = (aa.groupBy(*keys).agg(F.count(F.lit(1)).alias("__na"))
           .join(bb.groupBy(*keys).agg(F.count(F.lit(1)).alias("__nb")),
                 keys)
           .withColumn("__pairs", F.col("__na") * F.col("__nb"))
           .filter(F.col("__pairs") > F.lit(max_pairs)))
    over = occ.orderBy(F.col("__pairs").desc()).limit(20).collect()
    if not over:
        return aa, bb, keys
    shown = [({c: r[c] for c in keys}, int(r["__pairs"]))
             for r in over[:5]]
    if on_oversize == "raise":
        raise ValueError(
            f"link_score_pairs: {len(over)}{'+' if len(over) == 20 else ''} "
            f"block(s) exceed max_pairs={max_pairs} candidate pairs — "
            f"worst {shown}. The blocking key is too coarse for this "
            f"data volume: refine block_cols, pass on_oversize="
            f"'split' with a split_col, or 'drop' to shed hot blocks.")
    over_keys = F.broadcast(
        occ.select(*keys).withColumn("__over", F.lit(True)))
    if on_oversize == "drop":
        warnings.warn(
            f"link_score_pairs: dropping {len(over)} oversize "
            f"block(s) (> {max_pairs} pairs), worst {shown}")
        aa = (aa.join(over_keys, keys, "left")
              .filter(F.col("__over").isNull()).drop("__over"))
        bb = (bb.join(over_keys, keys, "left")
              .filter(F.col("__over").isNull()).drop("__over"))
        return aa, bb, keys
    warnings.warn(
        f"link_score_pairs: splitting {len(over)} oversize block(s) "
        f"by pmod(xxhash64({split_col}), {n_splits}); true pairs "
        f"disagreeing on {split_col!r} in those blocks are lost")

    def _sub(side_col: str) -> Column:
        return (F.when(F.col("__over").isNotNull(),
                       F.pmod(F.xxhash64(F.col(side_col)),
                              F.lit(n_splits)))
                .otherwise(F.lit(-1)))

    aa = (aa.join(over_keys, keys, "left")
          .withColumn("__sub", _sub(split_a or split_col))
          .drop("__over"))
    bb = (bb.join(over_keys, keys, "left")
          .withColumn("__sub", _sub(split_b or split_col))
          .drop("__over"))
    return aa, bb, keys + ["__sub"]


def link_field_weights(fields: dict[str, tuple[float, float]]
                       ) -> dict[str, tuple[float, float]]:
    """(m, u) per field -> (agree_weight, disagree_weight) in log2 —
    exposed so callers can inspect/report the weight table the score
    uses. Raises on degenerate probabilities (m <= u would invert the
    evidence; 0/1 would produce infinities)."""
    out = {}
    for col, (m, u) in fields.items():
        if not (0.0 < u < m < 1.0):
            raise ValueError(
                f"field {col!r}: need 0 < u < m < 1, got m={m}, u={u}")
        out[col] = (math.log2(m / u),
                    math.log2((1.0 - m) / (1.0 - u)))
    return out


def link_score_pairs(
    a: DataFrame,
    b: DataFrame,
    id_a: str,
    id_b: str,
    block_cols: list[str],
    fields: dict[str, tuple[float, float]],
    threshold: float = 0.0,
    max_block: int | None = 100_000,
    max_pairs: int | None = 25_000_000,
    on_oversize: str = "raise",
    split_col: str | None = None,
    n_splits: int = 64,
    round_to: int = 4,
) -> DataFrame:
    """Fellegi-Sunter pair scores -> (id_a, id_b, n_agree, score):
    block-join `a` x `b` on `block_cols`, compare each field in
    `fields` (null-safe EXACT equality after the caller's own
    normalization — pass pre-lowered/trimmed columns), sum the log2
    agreement/disagreement weights, keep pairs with score >=
    `threshold`. A NULL on either side contributes 0 (no evidence),
    the standard treatment.

    Scale: one equi-join on the block keys (both sides shuffle once
    on cheap keys); `max_block` drops blocks whose a-side or b-side
    exceeds the cap (a degenerate block key — e.g. a null-ish city —
    would otherwise go quadratic), the _cap_buckets discipline. On
    top, `max_pairs` bounds each block's a×b candidate-pair PRODUCT
    (block occupancy grows with data under a fixed blocking key, so
    pair counts grow quadratically while both side caps stay
    silent): one block-key aggregation per side, then `on_oversize`
    = 'raise' (loud default) | 'split' (refine oversize blocks by a
    deterministic sub-key of `split_col`, recall trade warned) |
    'drop' (shed oversize blocks, warned) — see _guard_pair_product.
    The score itself is a pure codegen projection over the joined
    rows. Weights are Python-computed literals (log2 of the caller's
    m/u), so the whole comparison replays in SQL for the oracle."""
    from seatunnel_spark.dataops.dedup import _cap_buckets

    from seatunnel_spark.dataops._cache import scoped_persist

    weights = link_field_weights(fields)
    cols = list(fields)
    if split_col is not None and split_col not in cols:
        raise ValueError(
            f"split_col {split_col!r} must be one of the compared "
            f"fields {cols}: every row of an oversize block shares "
            f"the block-key values, so a block-column sub-key is "
            f"CONSTANT within the block and cannot refine it")
    aa = a.select(F.col(id_a).alias("id_a"),
                  *[F.col(c).alias(f"__a_{c}") for c in cols],
                  *[F.col(c) for c in block_cols])
    bb = b.select(F.col(id_b).alias("id_b"),
                  *[F.col(c).alias(f"__b_{c}") for c in cols],
                  *[F.col(c) for c in block_cols])
    aa = _cap_buckets(aa, block_cols, max_block)
    bb = _cap_buckets(bb, block_cols, max_block)
    if max_pairs is not None:
        # The guard runs an eager per-block aggregation over BOTH
        # sides before the join re-reads them — persist the prepared
        # sides so the guard pass fills the cache instead of doubling
        # the side scans (released by the caller's cache_scope).
        aa = scoped_persist(aa)
        bb = scoped_persist(bb)
    split_a = split_b = None
    if split_col is not None:
        split_a, split_b = f"__a_{split_col}", f"__b_{split_col}"
    aa, bb, join_keys = _guard_pair_product(
        aa, bb, block_cols, max_pairs, on_oversize,
        split_col, n_splits, split_a, split_b)
    j = aa.join(bb, join_keys)

    def field_term(c: str) -> tuple[Column, Column]:
        av, bv = F.col(f"__a_{c}"), F.col(f"__b_{c}")
        wa, wd = weights[c]
        agree = av == bv
        term = (F.when(av.isNull() | bv.isNull(), F.lit(0.0))
                .when(agree, F.lit(wa)).otherwise(F.lit(wd)))
        hit = (F.when(av.isNull() | bv.isNull(), F.lit(0))
               .when(agree, F.lit(1)).otherwise(F.lit(0)))
        return term, hit

    terms = [field_term(c) for c in cols]
    score = terms[0][0]
    hits = terms[0][1]
    for t, h in terms[1:]:
        score = score + t
        hits = hits + h
    return (j.select("id_a", "id_b", hits.alias("n_agree"),
                     F.round(score, round_to).alias("score"))
            .filter(F.col("score") >= threshold))


def link_dup_clusters(
    a: DataFrame,
    b: DataFrame,
    id_a: str,
    id_b: str,
    block_cols: list[str],
    fields: dict[str, tuple[float, float]],
    threshold: float = 0.0,
    max_block: int | None = 100_000,
    max_pairs: int | None = 25_000_000,
    on_oversize: str = "raise",
    split_col: str | None = None,
    n_splits: int = 64,
    round_to: int = 4,
    collapse_exact: bool = True,
) -> DataFrame:
    """Linkage connected components with EXACT-RECORD COLLAPSE ->
    (id, cluster_id) — the jaccard_dup_clusters trick (dedup.py)
    applied to Fellegi-Sunter linkage: one representative (min id)
    per identical (block_cols + compared-fields) tuple on EACH side
    enters link_score_pairs, the CC runs over representatives ONLY,
    and members inherit their representative's cluster afterwards.

    The components are IDENTICAL to CC over the full pair set: the
    score is a pure function of the two compared tuples, so every
    edge (member, x) the full join would add exists as (rep, x) with
    the same score — inheriting the rep's cluster stands in,
    transitively, for all of them; and because a rep is its tuple
    group's MINIMUM id, no member can ever be a component's min, so
    the rep-only CC assigns the same cluster ids the full CC would.
    The one subtlety: an a-member and its a-rep are NEVER directly
    paired by the two-sided join (it only pairs a x b), so a member
    joins the output ONLY when its rep appears in a surviving pair —
    a rep with no cross-side match stays a singleton exactly as the
    full graph leaves it (equivalence-tested, including that case). Tuples group null-safely via an md5(to_json(struct))
    digest — the same null==null treatment groupBy would give, and
    consistent with the score's a-null-contributes-0 rule, which is
    also tuple-determined.

    Why: under exact replication (crawl corpora, multi-feed CRM
    dumps) within-cluster pair edges grow QUADRATICALLY in the copy
    count while distinct tuples stay flat — the collapse turns the
    pair join and the CC from quadratic-in-copies to
    distinct-tuple-sized (the sf10 golden-records residual this
    closes was 3.6x/decade). With caps/guards (`max_block`,
    `max_pairs`) active, the collapsed form caps on DISTINCT-tuple
    occupancy — strictly closer to the uncapped-exact answer than
    capping on replicated counts. `collapse_exact=False` recovers
    the plain link_score_pairs -> duplicate_clusters composition."""
    from seatunnel_spark.dataops._cache import scoped_persist
    from seatunnel_spark.dataops.dedup import duplicate_clusters

    def _link(sa: DataFrame, sb: DataFrame) -> DataFrame:
        return link_score_pairs(
            sa, sb, id_a, id_b, block_cols, fields, threshold,
            max_block, max_pairs, on_oversize, split_col, n_splits,
            round_to)

    if not collapse_exact:
        return duplicate_clusters(_link(a, b))

    cols = list(fields)
    dg = F.md5(F.to_json(F.struct(
        *[F.col(c) for c in [*block_cols, *cols]])))

    def _collapse(df: DataFrame, idc: str):
        # NARROW rep map + duplicate probe in one pass (round 12): the
        # window min runs over just (id, digest) — the md5 projection
        # is computed ONCE and only two columns shuffle, not the full
        # rows the former window moved. On clean sides (every digest
        # unique — the common deduped-CRM shape, and the driver's
        # sf0.1 data) the member set is empty and the whole collapse
        # is skipped: reps ARE the rows (each singleton group's min id
        # is its own id), zero further work, provably identical
        # output. Replicated sides (the sf10 regime the collapse
        # exists for) split reps from members by one id-keyed
        # semi-join against the rep-id set — which AQE broadcasts
        # when it fits (reps = distinct tuples, the SMALL side under
        # heavy replication), so full rows often never shuffle at all;
        # worst case they shuffle once by id, the same bytes the
        # former digest-keyed window moved.
        from pyspark.sql import Window

        from seatunnel_spark.dataops._cache import scoped_persist as _sp

        w = Window.partitionBy("__dg")
        rep_map = _sp(df.select(F.col(idc).alias("__id"),
                                dg.alias("__dg"))
                      .withColumn("__rep", F.min("__id").over(w)))
        members = (rep_map.filter(F.col("__id") != F.col("__rep"))
                   .select("__id", "__rep"))
        if members.isEmpty():
            return df, None
        rep_ids = (rep_map.filter(F.col("__id") == F.col("__rep"))
                   .select(F.col("__id").alias(idc)))
        reps = df.join(rep_ids, [idc], "left_semi")
        return reps, members

    reps_a, mem_a = _collapse(a, id_a)
    reps_b, mem_b = _collapse(b, id_b)
    pairs = scoped_persist(_link(reps_a, reps_b)
                           .select("id_a", "id_b"))
    # CC over REPRESENTATIVES only: members are degree-1 leaves whose
    # id is strictly greater than their rep's (rep = per-tuple min on
    # its own side), so the component min — the cluster id — is
    # always decided by reps alone; members inherit their rep's
    # cluster by ONE join after the CC instead of riding every label
    # round. The inner join against the CC output IS the former
    # rep-appears-in-a-surviving-pair semi-join: duplicate_clusters
    # emits exactly the vertices of `pairs`, so a member whose rep
    # matched nothing stays out, exactly as before. Precondition
    # (row-identifier contract): ids are unique across both sides.
    rep_cc = duplicate_clusters(pairs)
    out = rep_cc
    # clean sides have no members — skip their inherit join outright
    if mem_a is not None:
        out = out.unionByName(
            mem_a.join(rep_cc.withColumnRenamed("id", "__rep"),
                       ["__rep"])
            .select(F.col("__id").alias("id"), "cluster_id"))
    if mem_b is not None:
        out = out.unionByName(
            mem_b.join(rep_cc.withColumnRenamed("id", "__rep"),
                       ["__rep"])
            .select(F.col("__id").alias("id"), "cluster_id"))
    return out


def golden_records(
    records: DataFrame,
    pairs: DataFrame | None,
    id_col: str,
    order_col: str,
    fields: list[str] | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Survivorship after linkage -> one GOLDEN record per matched
    cluster: link pairs become connected components
    (dedup.duplicate_clusters — transitive matches fuse), then each
    field independently survives as the value from the LATEST
    (order_col, id) row where that field is NON-NULL — the standard
    master-data rule (a stale row's phone fills a fresh row's null,
    but a fresh non-null always wins). Output: (cluster_id,
    n_members, <fields...>), cluster_id = the cluster's minimum id;
    unmatched records pass through as 1-member clusters.

    Scale: the pair graph is near-duplicate-shaped (tiny components),
    so the CC converges in a few rounds; survivorship is ONE
    map-side-combined max_by aggregation per field over |records|
    rows keyed by cluster — no window, no per-cluster sort. The
    (order_col, id) struct key makes every pick deterministic even
    under order ties, so SQL engines replay it (arg_max over the
    same tuple).

    Pass `clusters` (id, cluster_id — e.g. from link_dup_clusters'
    exact-collapsed CC) to skip the pair-graph CC here; `pairs` may
    then be None."""
    from seatunnel_spark.dataops.dedup import duplicate_clusters

    if fields is None:
        fields = [c for c in records.columns
                  if c not in (id_col, order_col)]
    if clusters is None:
        if pairs is None:
            raise ValueError("golden_records needs pairs or clusters")
        clusters = duplicate_clusters(pairs, id_a, id_b)
    r = (records.join(
            clusters.withColumnRenamed("id", id_col), [id_col], "left")
         .withColumn("__cid", F.coalesce("cluster_id", F.col(id_col))))
    key = F.struct(F.col(order_col).alias("o"),
                   F.col(id_col).alias("i"))
    aggs = [F.count(F.lit(1)).alias("n_members")]
    for c in fields:
        aggs.append(F.max_by(
            F.col(c),
            F.when(F.col(c).isNotNull(), key)).alias(c))
    return (r.groupBy(F.col("__cid").alias("cluster_id"))
            .agg(*aggs))
