"""Exact-duplicate collapse: group byte-identical copies, bound their id
lists, and expand group-level results back to copies.

A real crawl is 30-50% byte-identical content under different ids. Every
dedup, similarity and text operator whose per-row work is a pure function
of the content can therefore run its kernel on ONE representative per
distinct content and hand the result back to every copy. This module is
the one home of that move; each caller keeps only its operator-specific
step and points here for the argument below.

* ``dup_heavy`` decides whether a pairwise operator collapses at all.
* ``content_groups`` builds one row per distinct content key.
* ``expand_group_pairs`` turns verified group pairs into copy pairs.

Grouping. The key is ``sha2(text, 256)``, or ``sha2(to_json(v), 256)``
for an array (vector) column: a fixed-width string keeps the group
shuffle in codegen, where grouping by a raw 64-element array sorts with
interpreted comparisons (measured 5 s for 50k rows at x25). A group's
id is ``gid`` = its minimum member id and ``m`` its copy count.
sha2-256 collisions are the only approximation (cryptographically
negligible).

Why the collapsed run is copy-level exact:

(a) Copies land in the same buckets. Any band, bucket or shingle value
    is a function of the content, so every copy of a group falls in
    exactly the buckets its representative falls in. A bucket cap or
    document-frequency cap therefore counts ``sum(m)`` over the groups in
    the bucket, which equals the uncollapsed copy count, and keeps or
    drops exactly the buckets the copy-level run would.
(b) Scores are group-level. A verify step (Jaccard, Hamming, cosine,
    token counts, NLL) reads only the two contents, so it runs once per
    group pair and holds for every copy pair of the two groups. Two
    copies of one group score as identical contents (distance 0) and
    pair iff their group has ``m >= 2`` and sits in >= 1 kept bucket.
(c) Id lists are cap-bounded. A group with ``m > cap`` copies overflows
    every bucket it touches on its own, so no group that an expansion
    reads has more than ``cap`` members; a top-k expansion reads at most
    ``k + 1`` ids per group. ``content_groups(cap=...)`` keeps the
    ``cap + 1`` smallest ids per group, so the truncation is a memory
    bound that is never observable, and viral duplicates never feed a
    corpus-sized ``collect_list``.
(d) Pairs are oriented (least, greatest). A cross pair (i in A, j in B)
    takes its ids from two groups whose order says nothing about the
    order of the member ids, so each copy pair is emitted as
    (least(i, j), greatest(i, j)); intra-group pairs are emitted with
    ``doc_a < doc_b``. No pair appears twice, because a copy belongs to
    one group and each group pair is verified once.

Out of scope, on purpose:

* ``text_dsir`` splits its weights by each member's ``lang`` and keys
  its groups by md5, so its groups are not content groups.
* The member-join pair expansions of ``sim_cosine_neardup`` and
  ``dedup._shingle_common`` stay with their callers: their per-side
  columns (per-side shingle counts) swap with the ids, which
  ``expand_group_pairs``' single distance column does not express.
* ``_knn_mutual_edges_cold`` keeps its exact ``count_distinct`` instead
  of ``dup_heavy``, because that count also sizes its shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dup_heavy(df: DataFrame, col: str) -> bool:
    """Exact-duplicate routing probe shared by the pairwise family
    (dedup_minhash, text_paragraph_dedup, mm_phash_neardup,
    sim_cosine_neardup, sim_ann_lsh and sim_ann_lsh_multiprobe): True
    when copies of ``col`` inflate ``df`` by >= 25%, i.e. when the
    exact-duplicate pre-collapse pays. Below that ratio the collapse's
    bookkeeping (slim group aggregate, id-map, representative join)
    costs more than the duplicate work it removes, and the direct chain
    is equally exact.

    One plan-time job on the caller's RAW scan (before ``spread()``,
    whose repartition would shuffle the full payload just to count
    it): single-pass HLL over xxhash64 (default rsd 5%, tails larger).
    A hash collision undercounts distinct values, which only picks the
    collapsed branch. Both branches are copy-level exact, so sketch
    error never changes results, only which exact branch runs
    (measured: an exact-distinct probe was 1.8 s at x25, HLL 0.3 s).
    Near the threshold that choice costs speed: the direct chain can
    run with up to ~1.25x duplication, where bucket occupancy and the
    below-cap pair budget grow quadratically in the copy count.

    At warehouse scale the answer is usually already in the catalog (an
    ANALYZE'd NDV or a lakehouse sketch on a content digest); a
    deployment with those statistics should branch on them instead."""
    min_ratio = 1.25
    n, n_distinct = df.agg(
        F.count("*"), F.approx_count_distinct(F.xxhash64(col))
    ).first()
    return n >= min_ratio * n_distinct


def content_key(df: DataFrame, col: str) -> Column:
    """The group key of ``df[col]``: sha2-256 of the text, or of the
    JSON form of an array (vector) column. Callers that join members
    back to their group select it as ``gh``."""
    c = F.col(col)
    if isinstance(df.schema[col].dataType, T.ArrayType):
        c = F.to_json(c)
    return F.sha2(c, 256)


def content_groups(
    df: DataFrame,
    id_col: str,
    key: str,
    carry: tuple[str, ...] = (),
    cap: int | None = None,
) -> DataFrame:
    """One row per distinct ``key`` content: ``gh`` (the content key),
    ``gid`` (min member ``id_col``), the ``carry`` columns (taken from
    any member — they must be functions of the content), ``m`` (copy
    count) and, with a ``cap``, ``ids``: the sorted ``cap + 1`` smallest
    member ids (bound (c) in the module docstring).

    Uncapped it is one groupBy; capped, one window pass over the slim
    (id, gh, carry) projection counts the group and numbers its members
    before the aggregate, so no collect_list sees more than ``cap + 1``
    ids. Unused output columns are pruned by the optimizer, so callers
    that need only some of them pay for those only. Checkpointing stays
    with the callers."""
    keyed = df.select(id_col, *carry, content_key(df, key).alias("gh"))
    carried = [F.first(c).alias(c) for c in carry]
    if cap is None:
        return keyed.groupBy("gh").agg(
            F.min(id_col).alias("gid"),
            *carried,
            F.count("*").cast("long").alias("m"),
        )
    group = Window.partitionBy(keyed["gh"])
    return (
        keyed.withColumn("rn", F.row_number().over(group.orderBy(id_col)))
        .withColumn("m", F.count("*").over(group))
        .filter(F.col("rn") <= cap + 1)
        .groupBy("gh")
        .agg(
            F.min(id_col).alias("gid"),
            *carried,
            F.first("m").cast("long").alias("m"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
    )


def expand_group_pairs(
    groups: DataFrame, eligible: DataFrame, verified: DataFrame, dist: str
) -> DataFrame:
    """Copy pairs (doc_a, doc_b, ``dist``) from group-level results.

    ``groups``   — (gid, ids) from a capped ``content_groups``;
    ``eligible`` — (gid, m) rows of groups in >= 1 kept bucket;
    ``verified`` — (gid_a, gid_b, ``dist``) group pairs that passed the
                   caller's verify, one row per pair.

    Intra pairs: every C(m, 2) copy pair of an eligible group with
    m >= 2, at distance zero (in ``dist``'s type). Cross pairs: every
    (i in A, j in B) of a verified pair, oriented (least, greatest) and
    carrying the pair's distance. The id lists join in only after the
    verify, so the expansion reads the small surviving pair set."""
    zero = F.lit(0).cast(verified.schema[dist].dataType)
    idmap = groups.select("gid", "ids")
    intra = (
        eligible.filter(F.col("m") >= 2)
        .select("gid")
        .distinct()
        .join(idmap, "gid")
        .select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", zero.alias(dist))
    )
    cross = (
        verified.join(
            idmap.select(F.col("gid").alias("gid_a"), F.col("ids").alias("ids_a")),
            "gid_a",
        )
        .join(
            idmap.select(F.col("gid").alias("gid_b"), F.col("ids").alias("ids_b")),
            "gid_b",
        )
        .select(dist, F.explode("ids_a").alias("i"), "ids_b")
        .select(dist, "i", F.explode("ids_b").alias("j"))
        .select(
            F.least("i", "j").alias("doc_a"),
            F.greatest("i", "j").alias("doc_b"),
            dist,
        )
    )
    return intra.unionAll(cross).select("doc_a", "doc_b", dist)
