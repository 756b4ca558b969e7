"""Deduplication operators (BASELINE.json north-star: the LLM-training-
data pipeline surface).

Five levels, cheap to expensive, all distributed:

* exact          — content hash + groupBy (one shuffle on the hash)
* minhash LSH    — explicit banded xxhash64 signatures, capped-bucket
                   self-join, exact Jaccard verify (candidate pairs only)
* simhash        — 32-bit sign-aggregated token hashes, banded join
* n-gram jaccard — shingle inverted-index self-join with hot-shingle cap
* embedding      — cosine near-dup, see similarity.py (shared kernel)

Scale notes: every operator here is join/agg-shaped — no driver-side
loops, no collect. The O(n^2) baselines are bounded by banding (LSH,
simhash bytes) or by document-frequency caps (shingle join), which is
exactly how the published MinHash/SimHash pipelines bound the pair
space at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import spread, table
from ..registry import register
from ..session import default_parallelism, shuffle_partitions_override
from .cc_kernel import star_contraction_labels
from .collapse import content_groups, content_key, dup_heavy, expand_group_pairs


@register(
    "dedup_exact",
    sql="""
        SELECT sha256(text) AS content_hash,
               CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM documents
        GROUP BY sha256(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: deterministic keeper = min doc_id.
    One hash-shuffle; the keeper rule avoids dropDuplicates' arbitrary
    'first arrival wins' nondeterminism."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy(F.sha2("text", 256).alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
    )


# MinHash banding parameters: 16 hashes as 4 bands x 4 rows. A pair with
# Jaccard s collides in a band with p = s^4 (0.24 at s=0.7, 0.008 at
# s=0.3), so candidates concentrate near the threshold. BUCKET_CAP bounds
# the join fanout: sum(size_i^2) <= CAP * sum(size_i), i.e. candidate
# pairs are LINEAR in corpus size no matter how skewed the signatures —
# over-full buckets (boilerplate-like clusters) are dropped, the standard
# production-MinHash move.
MINHASH_N = 16
MINHASH_BANDS = 4
MINHASH_ROWS = 4
MINHASH_BUCKET_CAP = 64

# Portable token hash: BOTH engines md5 the token and parse two 15-hex-
# char halves as big-endian int64 (verified bit-identical Spark `conv`
# vs DuckDB '0x' cast), then derive the 16 minhash functions by
# Kirsch-Mitzenmacher double hashing h_i = hm + i*hd with both halves
# reduced mod 2^40 so hm + 15*hd < 2^44 never overflows int64 on either
# engine. This is what upgraded the operator from rows-only to an exact
# cross-engine oracle (xxhash64 has no DuckDB twin).
_MH_MOD = 1 << 40

#: Same cap for the SimHash band self-join: 8-bit band values have only
#: 256 buckets, so an uncapped degenerate band is quadratic.
SIMHASH_BUCKET_CAP = 64


_MINHASH_SQL = f"""
        WITH tok AS (
            SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
            FROM documents WHERE text <> ''
        ),
        th AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % {_MH_MOD} AS hm,
                   CAST('0x' || substr(md5(token), 16, 15) AS BIGINT) % {_MH_MOD} AS hd
            FROM tok
        ),
        sig AS (
            SELECT doc_id,
                   {", ".join(f"min(hm + {i} * hd) AS h{i}" for i in range(MINHASH_N))}
            FROM th GROUP BY doc_id
        ),
        bands AS (
            {" UNION ALL ".join(
                "SELECT doc_id, " + str(b) + " AS band_idx, concat_ws('_', "
                + ", ".join(f"h{b * MINHASH_ROWS + j}" for j in range(MINHASH_ROWS))
                + ") AS band_key FROM sig"
                for b in range(MINHASH_BANDS)
            )}
        ),
        kept AS (
            SELECT band_idx, band_key FROM bands
            GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {MINHASH_BUCKET_CAP}
        ),
        eligible AS (
            SELECT b.* FROM bands b JOIN kept USING (band_idx, band_key)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM eligible a
            JOIN eligible b ON a.band_idx = b.band_idx
                           AND a.band_key = b.band_key
                           AND a.doc_id < b.doc_id
        ),
        nt AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY 1
        ),
        common AS (
            SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
            FROM cand c
            JOIN tok ta ON ta.doc_id = c.doc_a
            JOIN tok tb ON tb.doc_id = c.doc_b AND ta.token = tb.token
            GROUP BY 1, 2
        )
        SELECT c.doc_a, c.doc_b,
               round(1.0 - c.n_common * 1.0
                           / (na.n_tok + nb.n_tok - c.n_common), 4)
                   AS jaccard_dist
        FROM common c
        JOIN nt na ON na.doc_id = c.doc_a
        JOIN nt nb ON nb.doc_id = c.doc_b
        WHERE c.n_common * 1.0 / (na.n_tok + nb.n_tok - c.n_common) >= 0.7
"""


@register("dedup_minhash", sql=_MINHASH_SQL, eager=True)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs, explicit banded implementation (replaces
    MLlib approxSimilarityJoin, which was 887 s at sf0.1 — the estimator
    compares every colliding pair with per-row UDF overhead and its
    1-row bands make *everything* collide on a low-diversity corpus).

    Plan shape: explode distinct tokens -> ONE md5 per token row, two
    int64 halves -> one hash-aggregate computing the 16
    Kirsch-Mitzenmacher minima per doc (the signature; see _MH_MOD for
    why the hash is portable — it makes the DuckDB oracle exact) -> 4
    band keys (the 4 minima concatenated; banding needs grouping, not
    re-hashing) -> self-join on (band_idx, band_key) restricted to
    buckets with 2..BUCKET_CAP members -> exact token-set Jaccard
    verify (array_intersect on collect_set'd tokens) >= 0.7. All JVM
    expressions; candidate pair count is bounded by CAP * n_band_rows,
    so the operator stays linear at 100 TB. Output: (doc_a, doc_b,
    jaccard_dist) with exact distance <= 0.3 — same contract as round 1
    but exact instead of estimated. The md5 costs ~2x wall-clock vs
    xxhash64 on this operator (measured 1.8 s -> 3.6 s at sf0.1); when
    cross-engine verification isn't needed, swapping the two conv(md5)
    halves back to two xxhash64 seeds recovers it with no other plan
    change — the hash is one narrow projection.

    EXACT-DUPLICATE PRE-COLLAPSE (operators/collapse.py): every stage —
    token set, signature, band keys, exact Jaccard — is a pure function
    of `text`, so on a duplicate-heavy corpus (``dup_heavy``) the chain
    runs on one representative per distinct text, buckets keep or drop
    on the copy count sum(m), and ``expand_group_pairs`` rebuilds the
    copy pairs (co-copies at distance 0.0). The x25 replication stress
    showed this key at 2.5x wall for 25x data before the collapse.
    Dup-free corpora (the sf fixtures) skip the bookkeeping entirely —
    one cheap count pair, then the direct copy-level chain; the
    duplicated regime is pinned by a planted copy-level-reference
    test (tests/test_llm_ops.py)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("text") != ""
    )

    def tok_hashes(rel: DataFrame, keep: list[str]) -> DataFrame:
        """(*keep, token, hm, hd) — one md5 per distinct token per doc."""
        toks = rel.select(
            *keep,
            F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
        )
        md5 = F.md5("token")
        return toks.select(
            *keep,
            "token",
            (F.conv(F.substring(md5, 1, 15), 16, 10).cast("long") % _MH_MOD).alias(
                "hm"
            ),
            (F.conv(F.substring(md5, 16, 15), 16, 10).cast("long") % _MH_MOD).alias(
                "hd"
            ),
        )

    def band_explode(sig: DataFrame, keep: list[str]) -> DataFrame:
        """16 minima -> 4 (band_idx, band_key) rows per signature."""
        return sig.select(
            *keep,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_idx"),
                            F.concat_ws(
                                "_",
                                *[
                                    F.col(f"h{b * MINHASH_ROWS + j}")
                                    for j in range(MINHASH_ROWS)
                                ],
                            ).alias("band_key"),
                        )
                        for b in range(MINHASH_BANDS)
                    ]
                )
            ).alias("band"),
        ).select(*keep, "band.band_idx", "band.band_key")

    _mins = [
        F.min(F.col("hm") + F.lit(i) * F.col("hd")).alias(f"h{i}")
        for i in range(MINHASH_N)
    ]
    n_common = F.size(F.array_intersect("ts_a", "ts_b"))
    jac = n_common / (F.size("ts_a") + F.size("ts_b") - n_common)

    if not dup_heavy(d, "text"):
        # (near-)duplicate-free corpus: run the direct copy-level chain
        # with none of the bookkeeping
        th = tok_hashes(d, ["doc_id"])
        sig = th.groupBy("doc_id").agg(*_mins)
        bands = band_explode(sig, ["doc_id"])
        bucket_sizes = bands.groupBy("band_idx", "band_key").agg(
            F.count("*").alias("bucket_n")
        )
        eligible = bands.join(
            bucket_sizes.filter(
                (F.col("bucket_n") >= 2) & (F.col("bucket_n") <= MINHASH_BUCKET_CAP)
            ).select("band_idx", "band_key"),
            ["band_idx", "band_key"],
        )
        a, b = eligible.alias("a"), eligible.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .distinct()
        )
        tsets = th.groupBy("doc_id").agg(F.collect_set("token").alias("tokset"))
        ta = tsets.select(F.col("doc_id").alias("doc_a"), F.col("tokset").alias("ts_a"))
        tb = tsets.select(F.col("doc_id").alias("doc_b"), F.col("tokset").alias("ts_b"))
        return (
            cand.join(ta, "doc_a")
            .join(tb, "doc_b")
            .filter(jac >= 0.7)
            .select("doc_a", "doc_b", F.round(1.0 - jac, 4).alias("jaccard_dist"))
        )

    # --- collapsed path: the only corpus-wide work is the slim
    # (doc_id, gh) group window and one doc_id-hash join pulling each
    # representative's text — tokenize/md5/signature run on n_distinct
    # rows, not n_docs. One localCheckpoint materializes the groups for
    # their three consumers (reps join, intra, cross).
    grp = (
        content_groups(d, "doc_id", "text", cap=MINHASH_BUCKET_CAP)
        .drop("gh")
        .localCheckpoint(eager=True)
    )
    reps = d.join(
        grp.select(F.col("gid").alias("doc_id"), "m"), "doc_id"
    ).select(F.col("doc_id").alias("gid"), "text", "m")
    # one explode+aggregate over representative tokens yields the
    # signature AND the verify token set AND the copy count per group
    grp_sig = (
        tok_hashes(reps, ["gid", "m"])
        .groupBy("gid")
        .agg(*_mins, F.collect_set("token").alias("tokset"), F.first("m").alias("m"))
        .localCheckpoint(eager=True)
    )
    bands = band_explode(grp_sig, ["gid", "m"])
    wb = Window.partitionBy("band_idx", "band_key")
    eligible = (
        bands.withColumn("bn", F.sum("m").over(wb))  # COPY count per bucket
        .filter((F.col("bn") >= 2) & (F.col("bn") <= MINHASH_BUCKET_CAP))
        .drop("bn")
    )
    # distinct group pairs sharing a kept bucket, Jaccard-verified ONCE
    # per group pair
    a, b = eligible.alias("a"), eligible.alias("b")
    gpairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(F.col("a.gid").alias("gid_a"), F.col("b.gid").alias("gid_b"))
        .dropDuplicates(["gid_a", "gid_b"])
    )
    ta = grp_sig.select(F.col("gid").alias("gid_a"), F.col("tokset").alias("ts_a"))
    tb = grp_sig.select(F.col("gid").alias("gid_b"), F.col("tokset").alias("ts_b"))
    verified = (
        gpairs.join(ta, "gid_a")
        .join(tb, "gid_b")
        .filter(jac >= 0.7)
        .select("gid_a", "gid_b", F.round(1.0 - jac, 4).alias("jaccard_dist"))
    )
    return expand_group_pairs(grp, eligible, verified, "jaccard_dist")


_SIMHASH_SQL = f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        th AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS th
            FROM tok
        ),
        votes AS (
            SELECT doc_id,
                   {", ".join(
                       f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
                       for b in range(32)
                   )}
            FROM th GROUP BY doc_id
        ),
        sig AS (
            SELECT doc_id,
                   CAST({" + ".join(
                       f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END"
                       for b in range(32)
                   )} AS BIGINT) AS simhash
            FROM votes
        ),
        bands AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, simhash, {i} AS band_idx, "
                f"(simhash >> {8 * i}) & 255 AS band_val FROM sig"
                for i in range(4)
            )}
        ),
        kept AS (
            SELECT band_idx, band_val FROM bands
            GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {SIMHASH_BUCKET_CAP}
        ),
        eligible AS (
            SELECT b.* FROM bands b JOIN kept USING (band_idx, band_val)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sh_a, b.simhash AS sh_b
            FROM eligible a
            JOIN eligible b ON a.band_idx = b.band_idx
                           AND a.band_val = b.band_val
                           AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
        FROM cand
        WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


@register("dedup_simhash", sql=_SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit signature = sign of per-bit vote sums
    over token hashes — entirely built-in expressions (explode, bitwise
    ops, groupBy), zero Python. The token hash is the first 8 hex chars
    of md5 parsed as int (bit-identical in DuckDB — the swap from
    murmur3 that earned this operator an exact cross-engine oracle).
    Candidate generation bands the signature into 4 bytes and
    self-joins on (band_index, band_value): hamming-close docs share
    >=1 band with high probability. Output: candidate pairs with exact
    hamming distance <= 3. spread() keeps the 32-votes-per-token map
    stage parallel when the corpus file is a single scan split.

    Band buckets are capped at SIMHASH_BUCKET_CAP like every pairwise
    family here: an 8-bit band value has only 256 buckets, so without
    the cap one degenerate band (short docs collapsing to the same
    signature byte, boilerplate clusters) yields bucket_n^2 candidate
    pairs — measured quadratic on a 5x replicated stress corpus.
    Over-full buckets are dropped (their members still pair through
    their other 3 bands); at true corpus scale the band width must
    also grow ~log2(n) bits, the same knob sim_cosine_neardup pins."""
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    h = tok.withColumn(
        "th", F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
    )
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("th").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(32)
        ]
    )
    sig = votes.select(
        "doc_id",
        sum(
            [F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)) for b in range(32)],
            F.lit(0),
        ).cast("long").alias("simhash"),
    )
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright("simhash", 8 * i).bitwiseAND(F.lit(0xFF)).alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    bucket_sizes = bands.groupBy("band_idx", "band_val").agg(
        F.count("*").alias("bucket_n")
    )
    eligible = bands.join(
        bucket_sizes.filter(
            (F.col("bucket_n") >= 2) & (F.col("bucket_n") <= SIMHASH_BUCKET_CAP)
        ).select("band_idx", "band_val"),
        ["band_idx", "band_val"],
    )
    a, b = eligible.alias("a"), eligible.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


# Hot-shingle document-frequency cap: a shingle appearing in more than
# this many documents (a boilerplate header at corpus scale) is dropped
# before the inverted-index self-join — the join fanout on one shingle
# is df^2, so the cap bounds total pairs by DF_CAP * n_shingle_rows
# (linear in corpus size). Mirrored exactly in the oracle SQL.
NGRAM_DF_CAP = 100

# 3-token shingles as a DuckDB expression (1-based list indexing);
# range(1, len-1) is empty for docs under 3 tokens.
_SHINGLES_SQL = (
    "list_transform(range(1, len(string_split(text, ' ')) - 1), "
    "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] "
    "|| ' ' || string_split(text, ' ')[i+2])"
)

# Shared CTE chain up to the per-pair common-shingle counts — reused by
# the dedup_ngram_jaccard oracle, the dedup_containment oracle, and
# (inside a recursive CTE) the dedup_connected_components oracle.
_NGRAM_COMMON_CTES = f"""
        shingled_raw AS (
            SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS shingle
            FROM documents
        ),
        kept AS (
            SELECT shingle FROM shingled_raw
            GROUP BY shingle HAVING count(*) <= {NGRAM_DF_CAP}
        ),
        shingled AS (
            SELECT s.doc_id, s.shingle FROM shingled_raw s JOIN kept USING (shingle)
        ),
        sizes AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shingled GROUP BY doc_id
        ),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_common
            FROM shingled a JOIN shingled b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )"""

# ... extended with the symmetric-Jaccard pair filter.
_NGRAM_PAIRS_CTES = f"""{_NGRAM_COMMON_CTES},
        pairs AS (
            SELECT c.doc_a, c.doc_b,
                   round(c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common), 4) AS jaccard
            FROM common c
            JOIN sizes sa ON c.doc_a = sa.doc_id
            JOIN sizes sb ON c.doc_b = sb.doc_id
            WHERE c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common) >= 0.2
        )"""


def _shingle_relation(docs_w: DataFrame) -> DataFrame:
    """Surviving (doc_id, shingle) rows under the weighted DF cap.

    ``docs_w`` — a (doc_id, text, w) relation to shingle, one row per
    distinct content (``_content_reps``); the DF cap sums the copy
    count ``w``, so the surviving-shingle set is the uncollapsed run's
    (operators/collapse.py, (a))."""
    d = docs_w.select("doc_id", "w", F.split("text", " ").alias("toks"))
    # split once into an array column; re-splitting inside the lambda
    # (element_at(split(text, ' '), i)) is O(tokens^2) per document
    shingles_expr = F.expr(
        "IF(size(toks) >= 3, "
        "transform(sequence(1, size(toks) - 2), "
        "i -> concat_ws(' ', element_at(toks, i), "
        "element_at(toks, i+1), element_at(toks, i+2))), "
        "CAST(array() AS ARRAY<STRING>))"
    )
    shingled_raw = d.select(
        "doc_id", "w", F.explode(F.array_distinct(shingles_expr)).alias("shingle")
    )
    # DF cap as a window sum over the shingle key: one shuffle, and
    # the inverted-index self-join downstream reuses that partitioning
    # (vs a groupBy + semi-join, which recomputes the shingle scan twice)
    wsh = Window.partitionBy("shingle")
    return (
        shingled_raw.withColumn("df_n", F.sum("w").over(wsh))
        .filter(F.col("df_n") <= NGRAM_DF_CAP)
        .select("doc_id", "shingle")
    )


def _common_from(shingled: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_common, n_sh_a, n_sh_b) from a surviving
    (doc_id, shingle) relation — the self-join + per-pair counts."""
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = shingled.alias("a"), shingled.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.col("sa.n_sh").alias("n_sh_a"),
            F.col("sb.n_sh").alias("n_sh_b"),
        )
    )


def _content_reps(docs: DataFrame) -> DataFrame:
    """(gh, doc_id, text, w): one representative per distinct text, in
    the (doc_id, text, w) shape ``_shingle_relation`` shingles."""
    return content_groups(docs, "doc_id", "text", carry=("text",)).select(
        "gh", F.col("gid").alias("doc_id"), "text", F.col("m").alias("w")
    )


def _shingle_common(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair common-shingle counts with both docs' shingle-set sizes
    — the DataFrame twin of _NGRAM_COMMON_CTES. Columns: (doc_a, doc_b,
    n_common, n_sh_a, n_sh_b); both symmetric-Jaccard and asymmetric-
    containment scoring are one projection away.

    Exact-dup pre-collapse (operators/collapse.py): the shingle
    inverted-index self-join runs on one representative per distinct
    content (DF cap weighted by the copy count), and the result
    re-expands to member pairs afterwards: every member pair WITHIN a
    group that kept >=1 shingle shares its full shingle set (n_common =
    n_sh on both sides); every CROSS-group member pair inherits its rep
    pair's counts, ordered by (least, greatest) id, with the per-side
    counts swapping along with the ids. The output is still quadratic
    in cluster size — it lists the pairs — but pair GENERATION cost
    drops from (copies x copies) joins to (contents x contents)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    grp = _content_reps(d).localCheckpoint(
        eager=True
    )  # reused: shingles + expansion
    shingled = _shingle_relation(grp).localCheckpoint(
        eager=True
    )  # reused: pair gen + intra-group sizes
    rep_pairs = _common_from(shingled)
    members = d.select("doc_id", content_key(d, "text").alias("gh"))
    rep_of = grp.select("gh", F.col("doc_id").alias("rep"))
    mem = members.join(rep_of, "gh").select("doc_id", "rep")
    # (a) intra-group pairs: groups with >=1 surviving shingle and >=2
    # members — all ordered member pairs, full-overlap counts
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    ma, mb = mem.alias("ma"), mem.alias("mb")
    intra = (
        ma.join(
            mb,
            (F.col("ma.rep") == F.col("mb.rep"))
            & (F.col("ma.doc_id") < F.col("mb.doc_id")),
        )
        .join(sizes, F.col("ma.rep") == sizes.doc_id)
        .select(
            F.col("ma.doc_id").alias("doc_a"),
            F.col("mb.doc_id").alias("doc_b"),
            F.col("n_sh").alias("n_common"),
            F.col("n_sh").alias("n_sh_a"),
            F.col("n_sh").alias("n_sh_b"),
        )
    )
    # (b) cross-group pairs: expand each rep pair to all member pairs,
    # re-ordering by id (member ids need not follow rep order); the
    # per-side counts follow their own group, so they swap with the ids
    xa, xb = mem.alias("xa"), mem.alias("xb")
    cross = (
        rep_pairs.join(xa, F.col("doc_a") == F.col("xa.rep"))
        .join(xb, F.col("doc_b") == F.col("xb.rep"))
        .select(
            F.least("xa.doc_id", "xb.doc_id").alias("out_a"),
            F.greatest("xa.doc_id", "xb.doc_id").alias("out_b"),
            F.col("n_common"),
            F.when(
                F.col("xa.doc_id") < F.col("xb.doc_id"), F.col("n_sh_a")
            )
            .otherwise(F.col("n_sh_b"))
            .alias("n_sh_a_out"),
            F.when(
                F.col("xa.doc_id") < F.col("xb.doc_id"), F.col("n_sh_b")
            )
            .otherwise(F.col("n_sh_a"))
            .alias("n_sh_b_out"),
        )
        .select(
            F.col("out_a").alias("doc_a"),
            F.col("out_b").alias("doc_b"),
            "n_common",
            F.col("n_sh_a_out").alias("n_sh_a"),
            F.col("n_sh_b_out").alias("n_sh_b"),
        )
    )
    return intra.unionByName(cross)


def _ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-Jaccard near-dup pairs (doc_a, doc_b, jaccard) — the
    DataFrame twin of _NGRAM_PAIRS_CTES."""
    c = _shingle_common(spark, sf_dir)
    jac = F.col("n_common") / (F.col("n_sh_a") + F.col("n_sh_b") - F.col("n_common"))
    return (
        c.filter(jac >= 0.2)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@register(
    "dedup_ngram_jaccard",
    sql=f"WITH{_NGRAM_PAIRS_CTES}\n        SELECT doc_a, doc_b, jaccard FROM pairs",
    eager=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-token shingle) Jaccard over candidate pairs from
    a shingle inverted-index self-join — the classic exact-verify stage
    behind MinHash. Pair space = docs sharing >=1 surviving shingle;
    shingles with document frequency above NGRAM_DF_CAP (stopword-like
    boilerplate) are dropped before the join, bounding fanout linearly.
    Jaccard is computed over the capped shingle space in BOTH engines.
    Docs with fewer than 3 tokens yield no shingles (guarded — Spark's
    sequence(1, n) would otherwise count DOWN for n < 1 and crash
    element_at). Fully SQL-expressible => exact oracle."""
    return _ngram_pairs(spark, sf_dir)


#: Containment threshold: flag a pair when the smaller side's shingles
#: are >= 80% inside the other document. Asymmetric by construction —
#: a quote-and-expand page contains its source near-fully while their
#: symmetric Jaccard can sit far below any near-dup cut.
CONTAINMENT_MIN = 0.8


@register(
    "dedup_containment",
    sql=f"""
        WITH{_NGRAM_COMMON_CTES}
        SELECT c.doc_a, c.doc_b,
               round(c.n_common * 1.0 / sa.n_sh, 4) AS c_a_in_b,
               round(c.n_common * 1.0 / sb.n_sh, 4) AS c_b_in_a
        FROM common c
        JOIN sizes sa ON c.doc_a = sa.doc_id
        JOIN sizes sb ON c.doc_b = sb.doc_id
        WHERE greatest(c.n_common * 1.0 / sa.n_sh,
                       c.n_common * 1.0 / sb.n_sh) >= {CONTAINMENT_MIN}
    """,
    eager=True,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dup (the web-dedup check
    symmetric Jaccard is blind to): containment of A in B =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| — a short document
    quoted wholesale inside a much longer one scores ~1.0 here while
    its Jaccard (union-normalized) can be arbitrarily small. Flags
    pairs where EITHER direction >= CONTAINMENT_MIN and reports both
    directional scores, so the consumer can tell container from
    contained (keep the superset, drop the quoted copy — the
    dedup decision production corpus pipelines make for
    quote-expansion and boilerplate-wrapped mirrors).

    Plan: identical shared kernel as dedup_ngram_jaccard
    (_shingle_common — shingle inverted index under the hot-shingle DF
    cap, one self-join, per-pair counts); containment is a pure
    projection over (n_common, n_sh_a, n_sh_b), so the marginal cost
    over the Jaccard operator is zero extra shuffles. Same linear pair
    bound at 100 TB (DF cap), same exact cross-engine oracle."""
    c = _shingle_common(spark, sf_dir)
    c_ab = F.col("n_common") / F.col("n_sh_a")
    c_ba = F.col("n_common") / F.col("n_sh_b")
    return (
        c.filter(F.greatest(c_ab, c_ba) >= CONTAINMENT_MIN)
        .select(
            "doc_a",
            "doc_b",
            F.round(c_ab, 4).alias("c_a_in_b"),
            F.round(c_ba, 4).alias("c_b_in_a"),
        )
    )


#: Iteration cap for the shared star-contraction CC kernel
#: (O(log^2 n) rounds worst case; the loop exits on fixpoint).
CC_MAX_ITERS = 20


#: (applicationId, sf_dir, documents signature) -> checkpointed CC
#: labels — the shared artifact of dedup_connected_components and
#: dedup_cluster_keep_best (a curation pipeline materializes the
#: cluster assignment once and feeds every downstream decision from
#: it). One row per document — corpus-sized, the same footprint the
#: operator's own output already has.
_cc_labels_cache: dict = {}


@register(
    "dedup_connected_components",
    sql=f"""
        WITH RECURSIVE{_NGRAM_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS s, doc_b AS t FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(src, node) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.src, e.t FROM reach r JOIN edges e ON r.node = e.s
        )
        SELECT src AS doc_id,
               CAST(min(node) AS BIGINT) AS keeper_doc_id,
               CAST(count(*) AS BIGINT) AS component_size
        FROM reach GROUP BY src
    """,
    eager=True,
    memo_backed=True,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> dedup DECISION: connected components over the
    shingle-Jaccard pair graph, keeper = min doc_id per component (the
    step production MinHash pipelines run after candidate verification
    — one survivor per duplicate cluster). Output one row per document:
    (doc_id, keeper_doc_id, component_size); singletons keep themselves.

    Spark side: the SHARED alternating-star-contraction kernel
    (operators/cc_kernel.py — Kiveris et al.), the same kernel as
    dedup_semantic_cc: O(log^2 n) rounds over the EDGE relation vs
    min-label propagation's O(diameter) (the r8 5x stress measured
    propagation at ratio 3.5, worst in the sweep — long near-dup
    chains are exactly propagation's pathological case). Every shuffle
    here (the shingle pair build AND the contraction rounds) is sized
    to the CORPUS, not the session default: on a fixture-sized graph
    32-way shuffles spend more on task scheduling than on data
    (measured 8.8 s -> 2.5 s at sf0.1 with corpus-sized partitions);
    at a real 10^9-doc corpus the same rule (~1 partition per 20k
    docs, floor 8, cap 2048) scales the count back up. The oracle
    replicates with a recursive CTE computing min reachable id — exact
    hash despite the iterative implementation. component_size counts
    reachable docs (oracle) == component membership (Spark groupBy).

    Exact-dup pre-collapse (operators/collapse.py): shingling,
    pair-gen and label propagation run on one representative per
    distinct content (rep = min member doc_id, DF cap weighted by the
    copy count w). Members of a group WITH >=1 surviving shingle are
    pairwise jaccard-1.0, so they inherit their rep's component
    (keeper = min rep in rep-component = min doc_id in the full
    component, since each rep is its group's min); members of a group
    with NO surviving shingles have no edges at all and stay
    singletons — exactly the oracle's reach."""
    return _cc_labels(spark, sf_dir)


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch (or build + publish) the memoized CC label relation."""
    from ..io import fixture_sig, memo_put

    memo_key = (
        spark.sparkContext.applicationId,
        sf_dir,
        fixture_sig(sf_dir, "documents"),
    )
    hit = _cc_labels_cache.get(memo_key)
    if hit is not None:
        return hit
    return memo_put(_cc_labels_cache, memo_key, _cc_labels_cold(spark, sf_dir))


def _cc_labels_cold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full CC-label build (shingle pairs -> star contraction ->
    re-expand), no memo read — the real construction cost."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    grp = _content_reps(docs)
    # size EVERY shuffle here (shingle join + label propagation) to the
    # corpus: ~1 partition per 20k docs, floor 8, capped — parquet
    # metadata count, no data read
    parts = max(8, min(2048, docs.count() // 20_000))
    with shuffle_partitions_override(spark, str(parts)):
        grp = grp.localCheckpoint(eager=True)  # reused: pair gen + re-expand
        shingled = _shingle_relation(grp).localCheckpoint(
            eager=True
        )  # reused: pair gen + has-shingle flag
        c = _common_from(shingled)
        jac = F.col("n_common") / (
            F.col("n_sh_a") + F.col("n_sh_b") - F.col("n_common")
        )
        pairs = c.filter(jac >= 0.2).select("doc_a", "doc_b")
        edges = pairs.select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        )
        labels = star_contraction_labels(
            spark, edges, grp.select(F.col("doc_id").alias("n")), CC_MAX_ITERS
        ).select(F.col("n").alias("doc_id"), F.col("lbl").alias("comp"))
    # re-expand: rep-level component -> every member of the content group
    has_sh = shingled.select("doc_id").distinct().withColumn(
        "has_sh", F.lit(True)
    )
    rep = (
        grp.select("gh", "doc_id", "w")
        .join(labels, "doc_id")
        .join(has_sh, "doc_id", "left")
        .select(
            "gh",
            "comp",
            "w",
            F.coalesce("has_sh", F.lit(False)).alias("has_sh"),
        )
    )
    comp_sizes = (
        rep.filter("has_sh")
        .groupBy("comp")
        .agg(F.sum("w").alias("comp_n"))
    )
    rep = rep.join(comp_sizes, "comp", "left")
    out = (
        docs.select("doc_id", content_key(docs, "text").alias("gh"))
        .join(rep, "gh")
        .select(
            "doc_id",
            F.when(F.col("has_sh"), F.col("comp"))
            .otherwise(F.col("doc_id"))
            .cast("long")
            .alias("keeper_doc_id"),
            F.when(F.col("has_sh"), F.col("comp_n"))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("component_size"),
        )
        .localCheckpoint(eager=True)
    )
    return out


@register(
    "dedup_cc_build_cold",
    sql=f"""
        WITH RECURSIVE{_NGRAM_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS s, doc_b AS t FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(src, node) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.src, e.t FROM reach r JOIN edges e ON r.node = e.s
        )
        SELECT src AS doc_id,
               CAST(min(node) AS BIGINT) AS keeper_doc_id,
               CAST(count(*) AS BIGINT) AS component_size
        FROM reach GROUP BY src
    """,
    eager=True,
)
def dedup_cc_build_cold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CC-label construction step with the per-(session, fixture)
    memo read BYPASSED — always one full build of the cluster
    assignment, then PUBLISHED to the memo for the downstream
    consumers (this is the pipeline's materialize step, not just a
    re-measure, which is where it differs from `knn_graph_build_cold`:
    a curation pipeline builds the cluster map once and fans it out).

    Same semantics and oracle as `dedup_connected_components`. This
    key exists so the bench ledger carries the kernel's real
    construction cost on a DEDICATED row every round:
    `dedup_connected_components` and `dedup_cluster_keep_best` read
    the memoized artifact (~0.1 s), which previously made
    `dedup_cluster_keep_best` — alphabetically the first consumer in a
    full sweep — silently absorb the whole ~7 s build (r13 verdict
    item 3). This key sorts ahead of both consumers, mirroring how
    `dedup_semantic_cc` populates the kNN-edge memo ahead of
    `sim_knn_graph_mutual`. Round-over-round performance comparisons
    of the CC family should read THIS row."""
    from ..io import fixture_sig, memo_put

    memo_key = (
        spark.sparkContext.applicationId,
        sf_dir,
        fixture_sig(sf_dir, "documents"),
    )
    return memo_put(
        _cc_labels_cache, memo_key, _cc_labels_cold(spark, sf_dir)
    )


# Edit-distance blocking: candidates share (lang, n_chars DIV 25) — a
# near-dup edit of <= LEV_MAX chars can shift length by at most LEV_MAX,
# so same-bin-or-adjacent would be exhaustive; same-bin is the fixture
# contract (planted near-dups keep their length bin). Buckets above the
# cap are dropped, bounding pairs linearly exactly like the shingle DF
# cap above.
LEV_MAX = 10
LEV_BUCKET_CAP = 64


@register(
    "dedup_levenshtein",
    sql=f"""
        WITH d AS (
            SELECT doc_id, text, lang, n_chars // 25 AS bin
            FROM documents
        ),
        kept AS (
            SELECT lang, bin FROM d
            GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {LEV_BUCKET_CAP}
        ),
        blocked AS (
            SELECT d.* FROM d JOIN kept USING (lang, bin)
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist
        FROM blocked a JOIN blocked b
          ON a.lang = b.lang AND a.bin = b.bin AND a.doc_id < b.doc_id
        WHERE levenshtein(a.text, b.text) <= {LEV_MAX}
    """,
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: candidates blocked by (lang,
    length-bin) with a bucket cap, verified with levenshtein <= LEV_MAX
    — the fuzzy-dedup stage for SMALL edits (typo fixes, token swaps)
    that token-set Jaccard is blind to. Spark's 3-arg levenshtein
    carries the threshold INTO the dynamic program (Ukkonen banding:
    O(threshold * len) per pair and early exit, returning -1 past the
    bound) — the verify stage costs ~LEV_MAX/len of the full matrix.
    Join fanout is bounded by the bucket cap; everything is JVM
    expressions."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "lang",
        (F.col("n_chars") / F.lit(25)).cast("int").alias("bin"),
    )
    wb = Window.partitionBy("lang", "bin")
    blocked = (
        d.withColumn("bucket_n", F.count("*").over(wb))
        .filter((F.col("bucket_n") >= 2) & (F.col("bucket_n") <= LEV_BUCKET_CAP))
        .drop("bucket_n")
    )
    # Pin the verify stage's parallelism (r15): the blocked relation is
    # BYTE-small (AQE coalesced its ~1.5 MB shuffle to one partition at
    # sf0.1) but the banded-DP verify downstream of it is CPU-heavy per
    # pair, so byte-based coalescing serialized the whole edit-distance
    # pass onto one core — measured 3.2 s exec with 31 cores idle. An
    # explicit keyed repartition is exempt from AQE coalescing; keyed by
    # the join key, the self-join reuses it with no further exchange,
    # and the 4x-cores count keeps per-task verify cost balanced (pair
    # fanout per bucket is bounded by LEV_BUCKET_CAP, so no task can
    # own more than cap^2/2 DPs). Scales with cores via the same env
    # the bench contract parameterizes.
    blocked = blocked.repartition(
        4 * default_parallelism(), "lang", "bin"
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    lev = F.levenshtein(F.col("a.text"), F.col("b.text"), LEV_MAX)
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.bin") == F.col("b.bin"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lev.alias("edit_dist"),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= LEV_MAX))
    )


#: Corpus-level duplicate-substring geometry (Lee et al. 2022,
#: "Deduplicating Training Data Makes Language Models Better" — public
#: paper).  The paper removes exact substrings >= 50 tokens via a
#: suffix array; the distributable relational approximation below
#: scores each document by the fraction of its 5-token-gram POSITIONS
#: whose gram also occurs in at least DUP_GRAM_MIN_DOCS distinct
#: documents, and flags docs above DUP_DOC_FRAC as corpus-level dups.
DUP_GRAM_N = 5
DUP_GRAM_MIN_DOCS = 2
DUP_DOC_FRAC = 0.5


@register(
    "dedup_substring_corpus",
    sql=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(ts) - {DUP_GRAM_N} + 2),
                       i -> array_to_string(ts[i:i + {DUP_GRAM_N} - 1], ' ')
                   )) AS gram
            FROM toks
            WHERE len(ts) >= {DUP_GRAM_N}
        ),
        gdf AS (
            SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM grams GROUP BY gram
        ),
        per_doc AS (
            SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(count(*) FILTER (
                       WHERE d.n_docs >= {DUP_GRAM_MIN_DOCS}
                   ) AS BIGINT) AS dup_grams
            FROM grams g JOIN gdf d USING (gram)
            GROUP BY g.doc_id
        )
        SELECT doc_id, n_grams, dup_grams,
               round(dup_grams * 1.0 / n_grams, 4) AS dup_frac,
               dup_grams * 1.0 / n_grams >= {DUP_DOC_FRAC} AS is_dup
        FROM per_doc
    """,
    eager=True,
)
def dedup_substring_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-substring coverage — the distributed
    n-gram form of suffix-array substring dedup (Lee et al. 2022): a
    doc whose 5-gram positions mostly reappear in other documents is
    boilerplate/mirror content even when no single pair passes a
    whole-document Jaccard cut, which is exactly the dup class
    pairwise MinHash misses.

    Plan (all equi-key, all linear): (1) exact-dup pre-collapse
    (operators/collapse.py) — every stage below runs once per distinct
    CONTENT, not once per copy — (2) ONE narrow explode of
    the representatives' 5-gram positions, localCheckpointed so the
    expansion is computed once and reused by both consumers, (3) gram
    -> doc-frequency hash aggregate where each distinct (content, gram)
    contributes the group's member count w (identical copies each hold
    the gram, so n_docs = sum(w) is exactly count(DISTINCT doc_id)),
    (4) join the per-position grams back on the gram key — exactly 1:1
    per position, no pair fanout anywhere — re-aggregate per content,
    then (5) re-expand to member doc_ids (scores depend only on
    content, so the expansion is exact; a group with w >= 2 has every
    gram duplicated by definition, which the weighted DF reproduces).
    A boilerplate mega-gram skews the join-back key; AQE skew-join
    splits it (session.tune), and unlike the pairwise family no cap is
    needed because the fanout is bounded by position count by
    construction.  Fully SQL-expressible => exact oracle.  Pairwise
    twin: `dedup_ngram_jaccard`; whole-doc twin: `dedup_exact`."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    grp = content_groups(d, "doc_id", "text", carry=("text",))
    toks = grp.select(
        "gh", F.col("m").alias("w"), F.split("text", " ").alias("ts")
    ).filter(F.size("ts") >= DUP_GRAM_N)
    grams = toks.select(
        "gh",
        "w",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - DUP_GRAM_N + 1),
                lambda i: F.array_join(F.slice("ts", i, DUP_GRAM_N), " "),
            )
        ).alias("gram"),
    ).localCheckpoint(eager=True)  # reused: DF aggregate + join-back
    gdf = (
        grams.dropDuplicates(["gh", "gram"])
        .groupBy("gram")
        .agg(F.sum("w").cast("long").alias("n_docs"))
    )
    per_grp = (
        grams.join(gdf, "gram")
        .groupBy("gh")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.count_if(F.col("n_docs") >= DUP_GRAM_MIN_DOCS)
            .cast("long")
            .alias("dup_grams"),
        )
    )
    members = d.select("doc_id", content_key(d, "text").alias("gh"))
    frac = F.col("dup_grams") / F.col("n_grams")
    return members.join(per_grp, "gh").select(
        "doc_id",
        "n_grams",
        "dup_grams",
        F.round(frac, 4).alias("dup_frac"),
        (frac >= DUP_DOC_FRAC).alias("is_dup"),
    )


@register(
    "dedup_cluster_keep_best",
    sql=f"""
        WITH RECURSIVE{_NGRAM_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS s, doc_b AS t FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(src, node) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.src, e.t FROM reach r JOIN edges e ON r.node = e.s
        ),
        comp AS (
            SELECT src AS doc_id,
                   min(node) AS cluster_id,
                   CAST(count(*) AS BIGINT) AS component_size
            FROM reach GROUP BY src
        ),
        ranked AS (
            SELECT c.doc_id, c.cluster_id, c.component_size, d.n_chars,
                   row_number() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
            FROM comp c JOIN documents d ON c.doc_id = d.doc_id
        )
        SELECT doc_id,
               CAST(cluster_id AS BIGINT) AS cluster_id,
               component_size,
               CAST(min(CASE WHEN rn = 1 THEN doc_id END)
                        OVER (PARTITION BY cluster_id) AS BIGINT)
                   AS best_doc_id,
               rn = 1 AS is_best
        FROM ranked
    """,
    eager=True,
    memo_backed=True,
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup decision a curation pipeline actually ships: one
    KEEPER per near-dup cluster chosen by CONTENT QUALITY (longest
    document, ties to the lower id), not by min id — min-id keepers
    systematically prefer whichever copy was crawled first, which for
    mirror/boilerplate clusters is usually the truncated one.  Reuses
    the `dedup_connected_components` label-propagation kernel for the
    clusters (same corpus-sized shuffles, same localCheckpoint lineage
    discipline), then one quality join + per-cluster WindowGroupLimit-
    shaped argmax.  Output one row per doc: cluster id, size, the
    cluster's best doc, and whether this row survives the dedup."""
    cc = dedup_connected_components(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = cc.select(
        "doc_id", F.col("keeper_doc_id").alias("cluster_id"), "component_size"
    ).join(d, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = j.withColumn("rn", F.row_number().over(w))
    wc = Window.partitionBy("cluster_id")
    return ranked.select(
        "doc_id",
        "cluster_id",
        "component_size",
        F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
        .over(wc)
        .cast("long")
        .alias("best_doc_id"),
        (F.col("rn") == 1).alias("is_best"),
    )


#: Recall-audit geometry: exact truth is computed on a HASH-PRIORITY
#: sample of AUDIT_K docs (TakeOrderedAndProject — bounded at any
#: corpus size), so the quadratic exact pass is a constant
#: AUDIT_K^2/2 pairs while MinHash runs over the whole corpus.  This
#: is the production shape of an LSH quality audit: you can never
#: afford exact truth on the corpus — you CAN on a deterministic
#: sample, every run, as a pipeline health metric.
AUDIT_K = 256
_AUDIT_SALT = ":audit"


@register(
    "dedup_minhash_recall_audit",
    sql=f"""
        WITH sample AS (
            SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
            FROM documents WHERE text <> ''
            ORDER BY md5(CAST(doc_id AS VARCHAR) || '{_AUDIT_SALT}'), doc_id
            LIMIT {AUDIT_K}
        ),
        truth AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sample a JOIN sample b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.toks, b.toks)) * 1.0
                  / (len(a.toks) + len(b.toks)
                     - len(list_intersect(a.toks, b.toks))) >= 0.7
        ),
        mh AS (SELECT doc_a, doc_b FROM ({_MINHASH_SQL})),
        found AS (
            SELECT t.doc_a, t.doc_b FROM truth t JOIN mh USING (doc_a, doc_b)
        )
        SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
               CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found,
               CASE WHEN (SELECT count(*) FROM truth) > 0
                    THEN round((SELECT count(*) FROM found) * 1.0
                               / (SELECT count(*) FROM truth), 4)
               END AS recall
    """,
    eager=True,
)
def dedup_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine LSH quality audit: recall of the full `dedup_minhash`
    pipeline against EXACT token-Jaccard >= 0.7 truth computed on a
    deterministic 256-doc hash-priority sample.  The sample bounds the
    quadratic exact pass to a constant (256^2/2 pairs) at ANY corpus
    size while MinHash runs corpus-wide — the health metric a
    production dedup pipeline publishes every run, so band/row/cap
    tuning regressions surface as a number, not as silently shrinking
    dedup output.  On the fixture corpus the audit reads LOW (~0.02 at
    sf0.01) and that is the correct, informative answer: the ~20-word
    vocabulary makes DISTINCT-TOKEN sets of long docs nearly identical
    (most pairs exceed Jaccard 0.7), the whole corpus collides into a
    few signatures, and MINHASH_BUCKET_CAP drops those mega-buckets by
    design ("a boilerplate cluster is dropped, not exploded").  The
    audit converts that silent cap trade into a published number — in
    production, a reading like this is the signal to switch to the
    more discriminating shingle measure (`dedup_ngram_jaccard`).
    Both the sample and MinHash are deterministic => exact oracle."""
    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    pri = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_AUDIT_SALT)))
    sample = (
        d.select(
            "doc_id",
            F.array_distinct(F.split("text", " ")).alias("toks"),
            pri.alias("pri"),
        )
        .orderBy("pri", "doc_id")
        .limit(AUDIT_K)
        .drop("pri")
    )
    a, b = sample.alias("a"), sample.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    jac = inter / (
        F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    )
    truth = (
        a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(jac >= 0.7)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        # r15 (guide §1.2(1)): truth feeds BOTH n_truth and the found
        # join; un-truncated, each branch re-ran the sample build (a
        # corpus scan + TakeOrdered + the 256^2/2 pair join). The
        # relation is bounded by AUDIT_K^2/2 pairs of two longs at ANY
        # corpus size, so one eager checkpoint halves the audit's
        # corpus passes.
        .localCheckpoint(eager=True)
    )
    mh = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    found = truth.join(mh, ["doc_a", "doc_b"])
    n_truth = truth.agg(F.count("*").cast("long").alias("n_truth"))
    n_found = found.agg(F.count("*").cast("long").alias("n_found"))
    return n_truth.crossJoin(n_found).select(
        "n_truth",
        "n_found",
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("n_found") / F.col("n_truth"), 4),
        ).alias("recall"),
    )


@register(
    "dedup_exact_normalized",
    sql="""
        WITH canon AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
                       AS canon_hash,
                   text <> trim(regexp_replace(lower(text), ' +', ' ', 'g'))
                       AS was_variant
            FROM documents
        )
        SELECT canon_hash,
               CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
               CAST(count(*) AS BIGINT) AS n_copies,
               CAST(count(*) FILTER (WHERE was_variant) AS BIGINT)
                   AS n_variants
        FROM canon
        GROUP BY canon_hash
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER canonicalization (casefold, whitespace
    collapse, trim) — catches the trivial-variant dups raw
    `dedup_exact` misses: re-encoded mirrors, copy-paste whitespace
    damage, case-mangled headers, which in web corpora outnumber
    byte-identical copies.  Emits how many cluster members only
    matched BECAUSE of normalization (n_variants), the number that
    tells you whether the normalize pass is earning its scan.  Same
    single-shuffle hash-group shape as `dedup_exact`; the
    canonicalizer is three narrow string expressions fused into the
    scan.  Normalization twin: `text_normalize` (which canonicalizes
    tokens for downstream ops rather than dedup identity)."""
    d = table(spark, sf_dir, "documents")
    canon = F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " "))
    return (
        d.select(
            "doc_id",
            F.md5(canon.cast("binary")).alias("canon_hash"),
            (F.col("text") != canon).alias("was_variant"),
        )
        .groupBy("canon_hash")
        .agg(
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
            F.count("*").cast("long").alias("n_copies"),
            F.count_if(F.col("was_variant")).cast("long").alias("n_variants"),
        )
    )
