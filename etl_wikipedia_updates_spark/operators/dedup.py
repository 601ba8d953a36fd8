"""Deduplication operators: exact, MinHash+LSH, SimHash.

The reference's dedup is a UNIQUE constraint on a natural key
(/root/reference/pipeline.py:216) — re-expressed here as the exact
variant, then extended to the near-duplicate family a training-data
pipeline needs.

Scale design (100 TB):
- exact: hash-partitioned window, one shuffle on the key.
- MinHash+LSH: signatures are one grouped aggregation over the token
  index; banding turns the O(n^2) pair space into equi-joins on
  (band, band-signature) buckets — only colliding docs ever meet.
- SimHash: fingerprint is one grouped aggregation; the pair search
  uses the pigeonhole principle (hamming <= 3 over 4 chunks => some
  chunk equal), so candidates come from 4 equi-joins, never a cross
  join.

Hashing is universal integer hashing (a*x + b mod 2^31-1) over
dictionary token ids so the DuckDB oracle reproduces results exactly;
at 100 TB swap the dictionary for xxhash64 (see operators.text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.operators.text import HASH_P


# --- exact dedup -------------------------------------------------------------
def exact_dedup(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """Keep the first row per key under a deterministic order.

    dropDuplicates() keeps an *arbitrary* row; a ranked window makes the
    survivor reproducible (SURVEY §2.3 Q24). One shuffle on the key.
    """
    w = W.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- posting-list pair enumeration -------------------------------------------
def enumerate_sorted_pairs(buckets: DataFrame, ds_col: str = "ds") -> DataFrame:
    """Ordered element pairs (x, y) from each row's SORTED array
    ``ds_col`` — the shared pair generator of the posting-list shape
    (q26 shingle postings, LSH band buckets, SimHash chunk buckets).

    Two chained explodes: posexplode picks x and its position, then a
    second explode expands only the tail ``slice`` — so the O(n²) pair
    stream is emitted as ROWS (whole-stage codegen pipelines the two
    generators; nothing shuffles between them) while no SINGLE value
    ever exceeds O(n): building the whole pair array per bucket with a
    nested transform would materialize n²/2 structs in one buffer and
    hit the 2 GB value limit on a 100k-member bucket (exactly the
    bucket a duplicate-heavy dedup corpus produces). x < y ordering
    follows from the array's sort order. Other columns are dropped;
    project what you need into the array elements (structs ride along).
    """
    e1 = buckets.select(
        F.col(ds_col).alias("__ds"), F.posexplode(ds_col).alias("__i", "x")
    )
    return e1.select(
        "x", F.explode(F.expr("slice(__ds, __i + 2, size(__ds))")).alias("y")
    )


# --- universal hash parameters ----------------------------------------------
def hash_params(n: int, seed: int = 7) -> list[tuple[int, int]]:
    """n fixed (a, b) pairs for h_i(x) = (a_i*x + b_i) mod 2^31-1.

    Generated by an LCG from a fixed seed — plain integer literals, so
    the identical constants are embedded in the DuckDB oracle SQL.
    """
    params: list[tuple[int, int]] = []
    state = seed
    for _ in range(n):
        state = (1103515245 * state + 12345) % HASH_P
        a = state or 1
        state = (1103515245 * state + 12345) % HASH_P
        b = state
        params.append((a, b))
    return params


def _h_sql(col: str, a: int, b: int) -> str:
    # Explicit 64-bit arithmetic: a*tid would wrap in int32 (a is up to
    # 2^31), silently diverging from the oracle's BIGINT math. Built as
    # a SQL string (one F.expr py4j call per aggregate) — composing the
    # same tree through Column operators costs ~8 py4j round trips per
    # hash, which at H=16 signatures adds ~0.15s of driver time per
    # plan build.
    return f"(CAST({a} AS BIGINT) * CAST({col} AS BIGINT) + {b}) % {HASH_P}"


# --- MinHash + LSH -----------------------------------------------------------
def minhash_agg_exprs(
    params: list[tuple[int, int]], tid_col: str = "tid"
) -> list:
    """The H min-aggregate columns of a MinHash signature (h0..h{H-1})
    over ``tid_col`` — the shared core of every grouped-signature
    variant (per-doc below; per-source in plans.northstar
    source_overlap). All H mins run inside whatever single grouped
    aggregation the caller attaches them to, so map-side partials
    apply and the cost is one shuffle on the group key regardless of
    H."""
    return [
        F.expr(f"min({_h_sql(tid_col, a, b)})").alias(f"h{i}")
        for i, (a, b) in enumerate(params)
    ]


def minhash_signatures(
    doc_tids: DataFrame, params: list[tuple[int, int]]
) -> DataFrame:
    """(doc_id, lang, h0..h{H-1}) from (doc_id, lang, tid) rows.

    All H min-aggregates run in ONE grouped aggregation (map-side
    partials apply), so the cost is a single shuffle on doc_id
    regardless of H.
    """
    return doc_tids.groupBy("doc_id", "lang").agg(
        *minhash_agg_exprs(params)
    )


def lsh_candidate_pairs(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """Distinct candidate (doc_id, doc_id2) pairs sharing any LSH band.

    Unpivot signatures into (band, band_key) rows with a single explode
    (NOT a bands-way union — a union re-evaluates the signature
    pipeline once per band and twice more for the self-join), then
    enumerate pairs per bucket from the grouped sorted doc list (the
    posting-list shape _q26_pairs documents — the self-join alternative
    evaluates the banded subplan once per side; ReuseExchange does not
    unify them). ``Σ bucket²`` is the pair-COUNT bound either way, and
    enumerate_sorted_pairs keeps per-VALUE memory at O(bucket) — the
    duplicate-heavy case (one page duplicated 100k times lands its
    whole cluster in one bucket per band) streams its pairs as rows
    instead of materializing them in one buffer. The bucket key
    includes lang so candidates respect the same-language blocking the
    near-dup contract declares.
    """
    return lsh_bucket_pairs(lsh_band_rows(sig, bands, rows))


def lsh_bucket_pairs(band_rows: DataFrame) -> DataFrame:
    """Distinct (doc_id, doc_id2) pairs, doc_id < doc_id2, of the
    (doc_id, lang, band, band_key) rows that share a bucket: one
    bucket groupBy into sorted doc lists, then enumerate_sorted_pairs.
    The pair step of lsh_candidate_pairs and of the streaming verified
    modes (streaming.neardup), which enumerate a micro-batch's own
    band rows."""
    buckets = band_rows.groupBy("lang", "band", "band_key").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    return (
        enumerate_sorted_pairs(buckets)
        .select(F.col("x").alias("doc_id"), F.col("y").alias("doc_id2"))
        .distinct()
    )


def lsh_band_col(bands: int, rows: int):
    """The band unpivot as one generator Column: explode of the
    (band, band_key) structs over signature columns h0..h{H-1}."""
    return F.explode(
        F.expr(
            "array("
            + ",".join(
                f"named_struct('band', {b}, 'band_key', concat_ws('_', "
                + ",".join(f"h{b * rows + r}" for r in range(rows))
                + "))"
                for b in range(bands)
            )
            + ")"
        )
    ).alias("bk")


def lsh_band_rows(
    sig: DataFrame, bands: int, rows: int, unpivot=None
) -> DataFrame:
    """Unpivot MinHash signatures into (doc_id, lang, band, band_key)
    bucket-membership rows — one explode, no per-band union. Shared by
    the batch pair enumeration above and the streaming ingest dedup
    (streaming.neardup), which blocks on exactly these keys against its
    accumulated bucket store. NULL lang never pairs: the bucket is a
    grouping key here but a JOIN key in the oracle SQL (NULL = NULL is
    false there), so NULL-lang rows are dropped to keep the two
    engines bit-equal. ``unpivot`` is a prebuilt lsh_band_col (a
    stream builds it once, not per micro-batch)."""
    return (
        sig.filter(F.col("lang").isNotNull())
        .select(
            "doc_id",
            "lang",
            lsh_band_col(bands, rows) if unpivot is None else unpivot,
        )
        .select(
            "doc_id",
            "lang",
            F.col("bk.band").alias("band"),
            F.col("bk.band_key").alias("band_key"),
        )
    )


def lsh_candidate_pairs_split(
    band_rows: DataFrame, thr: int
) -> DataFrame:
    """Distinct candidate (doc_id, doc_id2) pairs (doc_id < doc_id2)
    sharing an LSH bucket with AT LEAST ONE endpoint ``>= thr`` —
    bit-equal to the join of the ``doc_id >= thr`` band rows against
    all band rows (the reference ``lsh_candidate_pairs_vs`` in
    tests/test_incremental.py pins it), where the probe side is an
    id-threshold restriction of the base (the incremental-recrawl
    snapshot boundary).

    Physical shape (r20): ONE aggregation groups the band rows into
    sorted per-bucket doc lists, then pairs stream out of each list
    with the enumerate_sorted_pairs explode discipline — per-value
    memory O(bucket), no n² buffer. The join form plans the whole
    signature pipeline once per join side (Catalyst does not unify the
    two subtrees — the probe's pushed-down id filter makes them
    differ), so the corpus was scanned, shingled and min-hashed TWICE
    and the band rows shuffled TWICE (measured r20: the duplicated sig
    pipeline was most of the incremental probe's cost). Here the sig
    pipeline is planned once and the only exchange is the bucket
    groupBy on exactly the keys the join would have shuffled anyway.

    prior×prior pairs are never generated, preserving the _vs
    contract's quadratic-term guarantee: a prior element's partner
    list is filtered to ``>= thr`` BEFORE the explode, so base-only
    collisions emit nothing (a bucket with no new member emits no
    rows at all). x <= y follows from the list sort order, so pairs
    arrive normalized; distinct collapses multi-band collisions. A doc
    listed twice in one bucket (a duplicated band row) would pair with
    itself: the x != y filter drops that self-pair, as the _vs form's
    doc_id != doc_id_b does.
    """
    buckets = band_rows.groupBy("lang", "band", "band_key").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    e1 = buckets.select(
        F.col("ds").alias("__ds"), F.posexplode("ds").alias("__i", "x")
    )
    tail = F.expr("slice(__ds, __i + 2, size(__ds))")
    partners = F.when(F.col("x") >= F.lit(thr), tail).otherwise(
        F.filter(tail, lambda y: y >= F.lit(thr))
    )
    return (
        e1.select(
            F.col("x").alias("doc_id"), F.explode(partners).alias("doc_id2")
        )
        .filter(F.col("doc_id") != F.col("doc_id2"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, doc_token_arrays: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard check on candidate pairs.

    doc_token_arrays: (doc_id, toks sorted-distinct array). ONE join:
    the pair endpoints are unpivoted to (pair, side, member) rows and
    joined against the toks frame once, then regrouped per pair —
    JVM-side array_intersect, no Python, no re-explode. The prior
    shape joined the toks frame twice (t1 on doc_id, t2 on doc_id2),
    which plans the WHOLE doc_token_arrays subtree per side — and that
    subtree is a full-corpus scan + per-doc shingle-hash/sort/distinct
    projection in every caller (measured r20: a full second corpus
    pass in the incremental probe; minhash_lsh's twin broadcast
    builds happened to be exchange-reused locally, a reuse that does
    not survive AQE broadcasting the pairs side — the planner's
    choice at corpus scale). The regroup shuffles only the CANDIDATE
    endpoints' arrays (2 rows/pair — banding-bounded, never
    corpus-scale): the guide-§8 trade — one small shuffle of the
    candidates instead of a second corpus-scale projection pass.

    max(when(side=...)) picks each side's array: exactly one non-null
    value per side per group (doc_token_arrays is one row per doc), so
    the aggregate selects a unique value, not an ordering choice. A
    pair endpoint MISSING from doc_token_arrays leaves that side NULL,
    making jaccard NULL, which the >= threshold filter drops — the
    same pairs the old inner joins dropped.

    Precondition: ``pairs`` holds each (doc_id, doc_id2) at most once.
    The regroup keys on the pair, so duplicate input rows collapse to
    one output row (the double-join shape returned one per input row);
    every caller passes distinct candidates.
    """
    long = pairs.select(
        "doc_id",
        "doc_id2",
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id").alias("m"), F.lit(1).alias("side")
                ),
                F.struct(
                    F.col("doc_id2").alias("m"), F.lit(2).alias("side")
                ),
            )
        ).alias("e"),
    ).select("doc_id", "doc_id2", "e.m", "e.side")
    toks = doc_token_arrays.select(F.col("doc_id").alias("m"), "toks")
    both = (
        long.join(toks, "m")
        .groupBy("doc_id", "doc_id2")
        .agg(
            F.max(F.when(F.col("side") == 1, F.col("toks"))).alias("toks1"),
            F.max(F.when(F.col("side") == 2, F.col("toks"))).alias("toks2"),
        )
    )
    inter = F.size(F.array_intersect("toks1", "toks2")).cast("double")
    union = (F.size("toks1") + F.size("toks2")).cast("double") - inter
    jac = inter / union
    return (
        both.select("doc_id", "doc_id2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_verify_sketch(
    pairs: DataFrame,
    doc_token_arrays: DataFrame,
    threshold: float,
    k: int,
) -> DataFrame:
    """Bottom-k MinHash Jaccard check on candidate pairs.

    ``doc_token_arrays``: (doc_id, toks) where toks is each doc's
    BOTTOM-K sketch — the k smallest sorted-distinct token/shingle
    ids (ids are already uniform hashes, so the k smallest ARE a
    min-k sample). The standard bottom-k estimator: S = the k
    smallest ids of toks1 ∪ toks2 (computable exactly from the two
    sketches), estimate = |S ∩ toks1 ∩ toks2| / |S|. Deterministic
    — no RNG, same ids on every engine — and EXACT whenever
    |toks1 ∪ toks2| <= k (both docs under the cap), which is every
    pair at the test tiers. Per-doc state is bounded at k ids, so
    an ingest store of these sketches grows with the DOC count, not
    the token count. All JVM-side array ops; no Python, no explode.
    """
    t1 = doc_token_arrays.select(
        F.col("doc_id").alias("doc_id"), F.col("toks").alias("toks1")
    )
    t2 = doc_token_arrays.select(
        F.col("doc_id").alias("doc_id2"), F.col("toks").alias("toks2")
    )
    s = F.slice(F.array_sort(F.array_union("toks1", "toks2")), 1, k)
    inter = F.size(
        F.array_intersect(F.array_intersect(s, F.col("toks1")), F.col("toks2"))
    ).cast("double")
    jac = inter / F.size(s).cast("double")
    return (
        pairs.join(t1, "doc_id")
        .join(t2, "doc_id2")
        .select("doc_id", "doc_id2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --- connected components (dedup clusters) -----------------------------------
# Edge-count bound for the driver fast path — the same kind of knob as
# spark.sql.autoBroadcastJoinThreshold: below it the graph fits in
# driver memory and union-find costs ONE Spark job total; above it the
# distributed loop runs. The probe collects 1M two-field Rows: ~16 MB
# of longs plus Python Row overhead (~100 B/row), so budget ~100-150 MB
# of driver heap at the default bound — the probe projects the two id
# columns first so no caller payload columns ride along. Near-dup edge
# sets are a small fraction of the corpus by construction (pairs already
# passed a similarity threshold), but at web scale they can still be
# billions of rows, so the bound is a parameter, not an assumption.
DRIVER_CC_MAX_EDGES = 1 << 20


def _driver_union_find(rows) -> list[tuple]:
    """Min-label union-find with path compression over collected pairs."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        # by name, not position: the distributed path selects doc_id/
        # doc_id2 by name, and the two strategies must agree on any
        # column order the caller passes
        a, b = r["doc_id"], r["doc_id2"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # roots are already the min member of their component: unions always
    # parent the larger root under the smaller, and labels are the ids.
    return [(x, find(x)) for x in parent]


def connected_components(
    pairs: DataFrame,
    max_iters: int = 20,
    driver_max_edges: int | None = DRIVER_CC_MAX_EDGES,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, cluster_id) from undirected near-dup ``pairs``
    (doc_id, doc_id2): cluster_id = min doc_id in the component — the
    canonical survivor choice of a dedup pipeline.

    Two physical strategies behind one logical operator (the same
    shape as Spark's broadcast-vs-shuffle join choice):

    - **Driver union-find** when the edge list fits under
      ``driver_max_edges`` (checked with a single ``limit(n+1)``
      collect, so deciding and fetching are ONE job): path-compressed
      union-find is O(E α(E)) on a few MB of longs, and the result
      comes back as a lineage-free local DataFrame. This is the
      production small-graph path — threshold-filtered near-dup graphs
      are usually tiny relative to the corpus.
    - **Iterative min-label propagation** otherwise: each round every
      node takes the min of its own and its neighbors' labels;
      converges in O(diameter) rounds (near-dup components are shallow,
      diameters 2-4 are typical). Each round checkpoints its result to
      truncate lineage — otherwise plan analysis grows O(rounds).
      ``checkpoint_dir`` selects reliable ``checkpoint()`` storage (on
      a real cluster a lost executor invalidates localCheckpoint blocks
      and restarts the whole loop); default is localCheckpoint, fine
      for single-node. The convergence check rides a per-row "changed"
      flag over the materialized rows, not another join.

    Pass ``driver_max_edges=None/0`` to force the distributed loop.
    """
    probed = False
    if driver_max_edges:
        # Persist before probing: the limit+collect runs the full
        # upstream pipeline (limit only short-circuits the final
        # collect), so without the cache an over-bound graph would pay
        # the expensive pair computation TWICE — once for the probe,
        # once rebuilding edges below. Small graphs unpersist
        # immediately; the over-bound path unpersists after the loop.
        pairs = pairs.persist()
        probed = True
        # Project to the two id columns BEFORE the limit+collect: the
        # probe decides a strategy, so it must not ship whatever extra
        # columns (similarity scores, payloads) the caller's pairs
        # carry — at the 1M bound that difference is order-of-magnitude
        # in driver heap.
        head = (
            pairs.select("doc_id", "doc_id2")
            .limit(driver_max_edges + 1)
            .collect()
        )
        if len(head) <= driver_max_edges:
            labels = _driver_union_find(head)
            id_type = pairs.schema["doc_id"].dataType
            spark = pairs.sparkSession
            pairs.unpersist()
            from pyspark.sql.types import StructField, StructType

            schema = StructType(
                [
                    StructField("doc_id", id_type),
                    StructField("cluster_id", id_type),
                ]
            )
            if id_type.typeName() in ("long", "integer"):
                # Arrow path: a plain Python list is shipped as PICKLED
                # partitions, and every downstream stage that scans the
                # ExistingRDD spins up a Python worker per task just to
                # unpickle a few labels (measured: a 32-task consumer
                # stage burned ~1.1 s/task on cold workers, ~0.2 s warm,
                # at ~zero CPU — guide §4: eliminate the Python
                # boundary). A pandas frame converts driver-side to
                # Arrow batches that executors read JVM-only. Kept
                # behind the integer-id check so exotic caller id types
                # fall back to the typed pickled path.
                # NULL-id guard: astype(int) raises on None, where the
                # typed pickled path would emit a NULL row. A NULL id
                # can only arrive via caller pairs with NULL endpoints
                # (no registered pipeline produces one — join/grouping
                # keys drop NULLs upstream), but the operator contract
                # shouldn't throw where it used to degrade, so exotic
                # label values fall through to the pickled path.
                import pandas as pd

                if all(
                    a is not None and b is not None for a, b in labels
                ):
                    npdtype = (
                        "int64" if id_type.typeName() == "long" else "int32"
                    )
                    pdf = pd.DataFrame(
                        labels or [], columns=["doc_id", "cluster_id"]
                    ).astype(npdtype)
                    return spark.createDataFrame(pdf, schema)
            return spark.createDataFrame(labels, schema)

    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    edges = (
        pairs.select(F.col("doc_id").alias("src"), F.col("doc_id2").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_id2").alias("src"), F.col("doc_id").alias("dst")
            )
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
        .persist()
    )
    # max_iters bounds the PRODUCTIVE rounds; one extra round is
    # allowed so a component whose diameter is exactly max_iters can
    # observe changed == 0 and exit cleanly — convergence is only ever
    # detected by a round that moves nothing, so without the slack the
    # guard below raised on graphs that had in fact converged.
    changed = 0
    for _ in range(max_iters + 1):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = _truncate(
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("new_label"),
                F.col("label").alias("old_label"),
            )
        )
        changed = stepped.filter(F.col("new_label") != F.col("old_label")).count()
        labels.unpersist()
        labels = stepped.select("doc_id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    edges.unpersist()
    if probed:
        pairs.unpersist()
    if changed != 0:
        # Even the slack round still moved labels: a component needing
        # more than max_iters propagation rounds exists, and the labels
        # in hand would report ONE real cluster as several — a dedup
        # survivor pass would then silently keep near-duplicates.
        # Wrong-but-plausible labels must not escape; the caller raises
        # max_iters (rounds needed = graph diameter) or pre-contracts
        # chains.
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} "
            f"propagation rounds ({changed} labels still changing after "
            f"round {max_iters + 1}); a component's diameter exceeds "
            "max_iters — raise max_iters"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


# --- SimHash -----------------------------------------------------------------
SIMHASH_BITS = 32
SIMHASH_A = 1_664_525
SIMHASH_B = 1_013_904_223
SIMHASH_MOD = 2**32


def simhash_fingerprints(doc_tids: DataFrame) -> DataFrame:
    """(doc_id, lang, simhash) — 32-bit SimHash over distinct token ids.

    Per bit b: sum(+1/-1) of bit b across token hashes; fingerprint
    sets bit b iff the sum is positive. 32 conditional sums in one
    grouped aggregation — single shuffle on doc_id, pure integer math.
    """
    # SQL-string expressions: one F.expr call per aggregate instead of
    # ~15 py4j round trips each — 32 bit-sums otherwise cost ~0.5s of
    # driver time per plan build. th is projected once per row so the
    # token hash is computed once, not once per bit.
    th = (
        f"(CAST({SIMHASH_A} AS BIGINT) * CAST(tid AS BIGINT) + {SIMHASH_B})"
        f" % {SIMHASH_MOD}"
    )
    hashed = doc_tids.select("doc_id", "lang", F.expr(th).alias("th"))
    sums = [
        F.expr(f"sum(if((shiftright(th, {b}) & 1) = 1, 1, -1))").alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy("doc_id", "lang").agg(*sums)
    fp = "CAST(" + " + ".join(
        f"if(s{b} > 0, {2 ** b}, 0)" for b in range(SIMHASH_BITS)
    ) + " AS BIGINT)"
    return agg.select("doc_id", "lang", F.expr(fp).alias("simhash"))


def simhash_near_pairs(fps: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(doc_id, doc_id2, hamming) pairs with hamming <= max_hamming.

    Pigeonhole candidate generation: split the 32-bit fingerprint into
    4 byte chunks; hamming <= 3 guarantees at least one chunk is equal,
    so the union of 4 equi-joins on (lang, chunk_idx, chunk_value)
    covers every qualifying pair without a cross join. Requires
    max_hamming < 4.
    """
    if max_hamming >= 4:
        raise ValueError("pigeonhole guarantee needs max_hamming < number of chunks (4)")
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), 8 * c)
                .bitwiseAND(F.lit(255))
                .alias("chunk_val"),
            )
            for c in range(4)
        ]
    )
    chunks = fps.select(
        "doc_id", "lang", "simhash", F.explode(chunk_structs).alias("ck")
    ).select(
        "doc_id", "lang", "simhash",
        F.col("ck.chunk").alias("chunk"), F.col("ck.chunk_val").alias("chunk_val"),
    )
    # Posting-list pair enumeration per bucket (enumerate_sorted_pairs;
    # same NULL-lang drop as lsh_candidate_pairs — the oracle joins on
    # lang): the grouped list carries (doc_id, simhash) structs so both
    # fingerprints ride along; sort_array orders by doc_id (first
    # struct field), so doc_id < doc_id2 by construction.
    buckets = (
        chunks.filter(F.col("lang").isNotNull())
        .groupBy("lang", "chunk", "chunk_val")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias("ds"))
    )
    cand = (
        enumerate_sorted_pairs(buckets)
        .select(
            F.col("x.doc_id").alias("doc_id"),
            F.col("y.doc_id").alias("doc_id2"),
            F.col("x.simhash").alias("f1"),
            F.col("y.simhash").alias("f2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("f1").bitwiseXOR(F.col("f2")))
    return (
        cand.select("doc_id", "doc_id2", hamming.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
