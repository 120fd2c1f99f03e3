"""Distributed model training primitives (data-parallel full-batch
gradient descent) with cross-engine bit-determinism.

The training shape is the canonical one for a Spark cluster: weights
live on the driver (d+1 doubles), each iteration broadcasts them
into a map-side expression, the gradient is a partial-combining
aggregate keyed by feature position (≤ d+1 groups ever shuffled),
and the driver applies the update. The corpus never moves; per
iteration it is scanned once — exactly MLlib's treeAggregate loop,
expressed in DataFrame algebra.

Determinism devices (shared with the k-means trainer,
operators/similarity.py::kmeans_centroids):

  * per-row gradient contributions are quantized to integers of
    ROUND(g·2²⁴) and summed EXACTLY, so the reduce is
    order-independent and both engines (Spark, DuckDB oracle) get
    the identical update — float summation order can never flap the
    hash;
  * the squashing function is the RATIONAL sigmoid
    σ̂(m) = 0.5 + m / (2·(1+|m|)) instead of 1/(1+e^-m): pure IEEE
    arithmetic, so Spark (Java Math) and the oracle (libm) cannot
    diverge by an ulp the way exp() can. Same sign, same 0.5
    midpoint, same monotonicity — for a production model swap the
    one expression back to exp and drop the oracle to rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wilayah_aceh_etl_spark.functions.vectors import (
    array_literal,
    as_double,
    dot,
)
from wilayah_aceh_etl_spark.session import local_frame

Q = 16777216  # 2^24 — the repo-wide quantization for exact reduces


def _margin(w: list[float], b: float):
    """m = w·x + b as a Spark column over `x` (array<double>) —
    sequential-fold dot, bitwise equal to DuckDB list_dot_product."""
    return dot("x", array_literal(w)) + F.lit(float(b))


def _prep_vu(df, id_col, vec_col, label_col):
    """(v, u): the id/features/label relation and its posexploded
    (vec_id, y, pos, val) twin — shared by every GD-family trainer."""
    v = df.select(
        F.col(id_col).alias("vec_id"),
        as_double(vec_col).alias("x"),
        F.col(label_col).cast("int").alias("y"),
    )
    u = v.select(
        "vec_id", "y", F.posexplode("x").alias("pos0", "val")
    ).select("vec_id", "y", (F.col("pos0") + 1).alias("pos"), "val")
    return v, u


def _gd_step(vb, u, w, b, lr, n):
    """ONE quantized gradient-descent update — the single source of
    truth for the step arithmetic, so every trainer that composes it
    (full-batch, fit-only, mini-batch SGD) is bit-identical by
    construction (the docstrings' cross-trainer trajectory claims
    depend on this). `vb` is the batch relation (vec_id, x, y), `n`
    its row count. n == 0 → weights returned unchanged (an empty
    batch contributes no gradient; the caller decides whether that
    is an error)."""
    if n == 0:
        return list(w), b
    m = _margin(w, b)
    sig = F.lit(0.5) + m / (F.lit(2.0) * (F.lit(1.0) + F.abs(m)))
    err_by_id = vb.select("vec_id", (sig - F.col("y")).alias("e"))
    gw = (
        u.join(err_by_id, "vec_id")
        .groupBy("pos")
        .agg(
            F.sum(
                F.round(F.col("e") * F.col("val") * Q).cast("long")
            ).alias("s")
        )
        .collect()
    )
    gb = err_by_id.agg(
        F.sum(F.round(F.col("e") * Q).cast("long")).alias("s")
    ).first()["s"]
    sums = {r["pos"]: r["s"] for r in gw}
    d = len(w)
    # identical op order to the oracle: (s/Q)/n, then w - lr*g
    w = [
        w[j] - lr * (float(sums.get(j + 1, 0)) / Q / n) for j in range(d)
    ]
    b = b - lr * (float(gb or 0) / Q / n)
    return w, b


def logreg_train_quantized(
    df: DataFrame,
    n_iter: int = 3,
    lr: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "y",
) -> DataFrame:
    """Full-batch gradient descent for binary logistic regression
    (rational sigmoid), starting from w = 0, b = 0. Returns one row
    per iteration: (iter, n_correct with the post-update weights,
    b_q = ROUND(b·2²⁴), w_checksum = Σ_j ROUND(w_j·2²⁴)) — every
    output an exact integer, so the whole training trajectory is
    hash-pinned against the SQL oracle.

    err_i = σ̂(w·x_i + b) − y_i;  ∂/∂w_j = Σ_i err_i·x_ij / N.
    The per-iteration driver traffic is d+1 quantized sums (a
    collect of ≤ 65 rows here) — metadata-scale, like Delta stats
    or the k-means centroid table. Measured (tools/shuffle_audit.py,
    sf0.1/local[32]): 6.8 KB total shuffle for all 3 iterations
    against 14.3 MB input, zero spill — the gradient reduce
    partial-combines map-side down to the 65 feature groups, so the
    movement is O(d·partitions), independent of N."""
    v, u = _prep_vu(df, id_col, vec_col, label_col)
    v = v.persist()
    try:
        n = v.count()
        if n == 0:
            raise ValueError("cannot train on an empty DataFrame")
        d = int(v.select(F.size("x")).first()[0])
        w = [0.0] * d
        b = 0.0
        out_rows = []
        for it in range(1, n_iter + 1):
            w, b = _gd_step(v, u, w, b, lr, n)

            # post-update metrics, computed ENGINE-side so rounding
            # follows SQL semantics on both sides
            m2 = _margin(w, b)
            correct = F.when(
                (m2 > 0) == (F.col("y") == 1), 1
            ).otherwise(0)
            n_correct = v.agg(
                F.sum(correct).cast("long").alias("c")
            ).first()["c"]
            chk = (
                v.sparkSession.range(1)
                .select(
                    sum(
                        [F.round(F.lit(float(wj)) * Q).cast("long") for wj in w],
                        start=F.lit(0).cast("long"),
                    ).alias("w_checksum"),
                    F.round(F.lit(float(b)) * Q).cast("long").alias("b_q"),
                )
                .first()
            )
            out_rows.append(
                (it, int(n_correct), int(chk["b_q"]), int(chk["w_checksum"]))
            )
        return local_frame(
            v.sparkSession,
            out_rows,
            "iter int, n_correct bigint, b_q bigint, w_checksum bigint",
        )
    finally:
        v.unpersist()


def perceptron_train_integer(
    df: DataFrame,
    n_iter: int = 3,
    q_bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "y",
) -> DataFrame:
    """Batch perceptron where EVERY quantity is an exact integer —
    the strongest determinism device in the repo (the logistic
    trainer still carries doubles between iterations; here nothing
    does). Features are quantized once to ROUND(x·2^q_bits); the
    update is the classic  w += Σ_{y·m ≤ 0} y·xq  with no learning
    rate to round. q_bits=12 keeps |margin| < 2^42 after 3
    iterations on this corpus — far from int64 overflow (2^24 would
    not: w grows to ~2^33 and the margin dot to ~2^63).

    Returns (iter, n_misclassified under the PRE-update weights,
    b, w_checksum) — all BIGINT, hash-stable by construction.

    Scale shape: identical to the logistic trainer — weights are
    d+1 integers broadcast into a map-side expression; the update is
    one filtered aggregate keyed by feature position."""
    qf = float(1 << q_bits)
    v = df.select(
        F.col(id_col).alias("vec_id"),
        as_double(vec_col).alias("x"),
        F.when(F.col(label_col).cast("int") == 1, 1)
        .otherwise(-1)
        .alias("ypm"),
    )
    u = (
        v.select("vec_id", "ypm", F.posexplode("x").alias("pos0", "xv"))
        .select(
            "vec_id",
            "ypm",
            (F.col("pos0") + 1).alias("pos"),
            F.round(F.col("xv") * qf).cast("long").alias("xq"),
        )
        .persist()
    )
    try:
        d = int(v.select(F.size("x")).first()[0])
        w = [0] * d
        b = 0
        out_rows = []
        for it in range(1, n_iter + 1):
            warr = F.array(*[F.lit(int(wj)) for wj in w])
            m = (
                u.groupBy("vec_id", "ypm")
                .agg(
                    F.sum(
                        F.element_at(warr, F.col("pos")) * F.col("xq")
                    ).alias("wdot")
                )
                .select(
                    "vec_id",
                    "ypm",
                    (F.col("wdot") + F.lit(int(b))).alias("m"),
                )
            )
            # persist: `mis` derives from a full aggregate over the
            # exploded relation and is consumed twice (stats + the
            # update join) — uncached it would recompute that
            # shuffle per consumer
            mis = (
                m.filter(F.col("ypm") * F.col("m") <= 0)
                .select("vec_id", "ypm")
                .persist()
            )
            try:
                stats = mis.agg(
                    F.count(F.lit(1)).alias("c"),
                    F.sum("ypm").alias("s"),
                ).first()
                n_mis = stats["c"]
                upd = (
                    u.join(mis, ["vec_id", "ypm"])
                    .groupBy("pos")
                    .agg(F.sum(F.col("ypm") * F.col("xq")).alias("s"))
                    .collect()
                )
            finally:
                mis.unpersist()
            sums = {r["pos"]: r["s"] for r in upd}
            w = [w[j] + int(sums.get(j + 1, 0)) for j in range(d)]
            b = b + int(stats["s"] or 0)
            out_rows.append((it, int(n_mis), int(b), int(sum(w))))
        return local_frame(
            v.sparkSession,
            out_rows,
            "iter int, n_misclassified bigint, b bigint, w_checksum bigint",
        )
    finally:
        u.unpersist()


def logreg_fit(
    df: DataFrame,
    n_iter: int = 3,
    lr: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "y",
    d: int | None = None,
) -> tuple[list[float], float]:
    """The fit loop of logreg_train_quantized without the
    per-iteration metric passes: returns (w, b) after n_iter
    updates, for callers that score a DIFFERENT dataset (holdout
    evaluation). Delegates to logreg_fit_trajectory — ONE copy of
    the loop, so the bit-identity the oracles rely on is structural,
    not merely asserted. n_iter=0 returns the zero-initialized
    (w, b), matching the pre-trajectory-refactor behavior (the
    delegation alone would IndexError on the empty trajectory —
    r9 ADVICE). Pass `d` to skip the dimension probe entirely; the
    probe itself is an explicit LIMIT 1 plan so the degenerate call
    never scans the corpus (r10 ADVICE)."""
    if n_iter == 0:
        if d is None:
            row = df.limit(1).select(F.size(vec_col)).first()
            if row is None:
                raise ValueError("cannot train on an empty DataFrame")
            d = int(row[0])
        return [0.0] * d, 0.0
    w, b = logreg_fit_trajectory(
        df, n_iter=n_iter, lr=lr, id_col=id_col,
        vec_col=vec_col, label_col=label_col,
    )[-1]
    return w, b


def logreg_fit_trajectory(
    df: DataFrame,
    n_iter: int = 3,
    lr: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "y",
) -> list[tuple[list[float], float]]:
    """logreg_fit, keeping EVERY iterate: [(w_1, b_1), ..,
    (w_n, b_n)] — the raw material of training-DYNAMICS curation
    (dataset cartography's per-epoch confidence, forgetting-event
    counts), which scores each example against every epoch's model,
    not just the last. Composes _gd_step, so element [-1] is
    bit-identical to logreg_fit's return (pinned by
    tests/test_round9_ops.py::test_trajectory_last_equals_fit) and
    the whole path hash-matches the SQL oracle's w1..wn CTEs."""
    v, u = _prep_vu(df, id_col, vec_col, label_col)
    v = v.persist()
    try:
        n = v.count()
        if n == 0:
            raise ValueError("cannot train on an empty DataFrame")
        d = int(v.select(F.size("x")).first()[0])
        w = [0.0] * d
        b = 0.0
        traj: list[tuple[list[float], float]] = []
        for _ in range(n_iter):
            w, b = _gd_step(v, u, w, b, lr, n)
            traj.append((list(w), b))
        return traj
    finally:
        v.unpersist()


# per-(corpus, config) memo of training trajectories — the dynamics
# family (cartography / forgetting / TracIn / RHO) scores the SAME
# lr=2.0 trajectory through different lenses; without the memo a
# driver window running the family retrains it once per query
_TRAJECTORY_CACHE: dict = {}


def logreg_fit_trajectory_cached(
    df: DataFrame,
    cache_key: str,
    n_iter: int = 3,
    lr: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "y",
) -> list[tuple[list[float], float]]:
    """logreg_fit_trajectory with per-(corpus, config) memoization of
    the driver-side iterates — the kmeans_centroids_cached contract,
    verbatim: the memo key folds in a file-metadata fingerprint of
    the corpus scan (staleness: mutated files retrain) AND a digest
    of its analyzed logical plan (aliasing: two logically different
    corpora over the same files never share weights); when either is
    unobservable (in-memory source, Spark Connect) the memo is
    BYPASSED and training runs fresh. Cached values ARE the training
    output — a cold and a warm call return bit-identical iterates
    (pinned by tests/test_round9_ops.py::test_trajectory_memo_bit_identity)."""
    from wilayah_aceh_etl_spark.operators.similarity import (
        _corpus_fingerprint,
        _plan_digest,
    )

    cfg = (cache_key, n_iter, lr, id_col, vec_col, label_col)
    fp = _corpus_fingerprint(df)
    pd_ = _plan_digest(df)
    if fp is None or pd_ is None:
        return logreg_fit_trajectory(
            df, n_iter, lr, id_col, vec_col, label_col
        )
    key = (*cfg, fp, pd_)
    if key not in _TRAJECTORY_CACHE:
        # evict superseded FILE fingerprints of the same (config,
        # plan) — one entry per logical corpus, not per file set
        for stale in [
            k
            for k in _TRAJECTORY_CACHE
            if k[:6] == cfg and k[7] == key[7]
        ]:
            del _TRAJECTORY_CACHE[stale]
        _TRAJECTORY_CACHE[key] = logreg_fit_trajectory(
            df, n_iter, lr, id_col, vec_col, label_col
        )
    return [(list(w), b) for w, b in _TRAJECTORY_CACHE[key]]


def doremi_domain_weights(
    df: DataFrame,
    n_iter: int = 3,
    lr: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "y",
    domain_col: str = "dom",
) -> DataFrame:
    """DoReMi domain reweighting (Xie et al. 2023, 'DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining'),
    in this engine's exact-integer idiom. The Group-DRO loop: a
    REFERENCE model trains normally; a PROXY model retrains from
    zero while, between steps, each domain's weight rises with its
    EXCESS LOSS (how far the proxy lags the reference there) and the
    proxy's gradient is importance-weighted by the domains — the
    averaged weights are the corrected pretraining mixture.

    Determinism devices, in order of appearance:
    * excess loss per domain = Σ ROUND((p_ref − p_proxy)·2²⁴) —
      per-row REFERENCE-minus-PROXY probability gap on the rational
      sigmoid, quantized BEFORE the sum, so the per-domain total is
      an exact order-free BIGINT (the loss-gap analog of -ln ratios
      — monotone in the paper's excess loss for a binary model).
    * the multiplicative-weights update is PURE INTEGER:
      α_q ← α_q + ⌊α_q · max(Σexcess, 0) / (2 · n_d · 2²⁴)⌋ — the
      linearized (1 + η·ℓ) MW form (Littlestone-Warmuth) with η=½,
      floor division in both engines; no exp(), no float state.
    * normalization never happens in float state: Σα_q is an exact
      integer, and each per-row training weight is ONE IEEE division
      of exact-integer products, wt_d = (α_q·N) / (Σα_q·n_d) —
      mean-1 by construction, so the weighted GD step divides by N
      like the unweighted trainer. (Exactness needs the products
      under 2⁵³ — fine up to ~10⁸ rows per training shard; past
      that the weights are driver-side doubles anyway. A second,
      harder cliff sits in any fixed-width SQL twin of the MW
      update: α_q·Σexcess nears 2⁶³ once a domain holds ~10⁴
      large-excess rows, so the DuckDB oracle computes that product
      in HUGEINT — Python's ints are arbitrary-precision and never
      hit it.)
    * the weighted gradient is _gd_step's quantization with the wt
      factor inside the per-row ROUND — still an exact-integer sum.

    Returns ONE ROW PER DOMAIN: (dom, n_docs, alpha1_q..alphaT_q —
    the normalized weight after each step, quantized ·2²⁴ — and
    alpha_bar_q, the step-averaged mixture weight the paper ships).
    Quantization happens ENGINE-side (F.round == SQL ROUND,
    half-away-from-zero; Python round() is banker's and never
    touches an emitted value).

    Scale shape: reference + proxy training are the broadcast-weight
    trainers (per-step shuffle = partitions × 65 quantized longs);
    the DRO bookkeeping between steps moves D longs (one per
    domain) to the driver; the per-row weight is a D-branch literal
    CASE — one corpus-scan pair per step, no joins over data."""
    v0 = df.select(
        F.col(id_col).alias("vec_id"),
        as_double(vec_col).alias("x"),
        F.col(label_col).cast("int").alias("y"),
        F.col(domain_col).alias("dom"),
    )
    Qf = float(Q)

    def _ptrue(w: list[float], b: float):
        m = _margin(w, b)
        sig = F.lit(0.5) + m / (F.lit(2.0) * (F.lit(1.0) + F.abs(m)))
        return F.when(F.col("y") == 1, sig).otherwise(F.lit(1.0) - sig)

    # reference model: the standard unweighted fit on the full relation
    wr, br = logreg_fit(
        v0, n_iter=n_iter, lr=lr, id_col="vec_id", vec_col="x"
    )
    v = v0.withColumn("pref", _ptrue(wr, br)).persist()
    try:
        n = v.count()
        if n == 0:
            raise ValueError("cannot train on an empty DataFrame")
        d = int(v.select(F.size("x")).first()[0])
        dn = {
            r["dom"]: int(r["c"])
            for r in v.groupBy("dom")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        doms = sorted(dn)
        u = v.select(
            "vec_id", F.posexplode("x").alias("pos0", "val")
        ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "val")

        w = [0.0] * d
        b = 0.0
        aq = {dm: Q for dm in doms}  # unnormalized 1.0 each, exact int
        alphas: dict[str, list[float]] = {dm: [] for dm in doms}
        for _ in range(n_iter):
            # per-domain excess loss of the CURRENT proxy vs reference
            pprox = _ptrue(w, b)
            ex = {
                r["dom"]: int(r["s"])
                for r in v.select(
                    "dom",
                    F.round((F.col("pref") - pprox) * Q)
                    .cast("long")
                    .alias("e"),
                )
                .groupBy("dom")
                .agg(F.sum("e").alias("s"))
                .collect()
            }
            # integer multiplicative-weights update, then the exact
            # normalization constant
            for dm in doms:
                aq[dm] = aq[dm] + (aq[dm] * max(ex.get(dm, 0), 0)) // (
                    2 * dn[dm] * Q
                )
            sq = sum(aq.values())
            for dm in doms:
                alphas[dm].append(aq[dm] / sq)
            # per-row training weight: one exact-int-ratio division,
            # embedded as a D-branch literal CASE
            wt = {dm: (aq[dm] * n) / (sq * dn[dm]) for dm in doms}
            wtc = F.when(F.col("dom") == doms[0], F.lit(wt[doms[0]]))
            for dm in doms[1:]:
                wtc = wtc.when(F.col("dom") == dm, F.lit(wt[dm]))
            # weighted GD step (the _gd_step arithmetic with the wt
            # factor inside the per-row quantization)
            m = _margin(w, b)
            sig = F.lit(0.5) + m / (F.lit(2.0) * (F.lit(1.0) + F.abs(m)))
            err = v.select(
                "vec_id",
                (sig - F.col("y")).alias("e"),
                wtc.alias("wt"),
            )
            gw = (
                u.join(err, "vec_id")
                .groupBy("pos")
                .agg(
                    F.sum(
                        F.round(
                            F.col("wt") * F.col("e") * F.col("val") * Q
                        ).cast("long")
                    ).alias("s")
                )
                .collect()
            )
            gb = err.agg(
                F.sum(
                    F.round(F.col("wt") * F.col("e") * Q).cast("long")
                ).alias("s")
            ).first()["s"]
            sums = {r["pos"]: r["s"] for r in gw}
            w = [
                w[j] - lr * (float(sums.get(j + 1, 0)) / Qf / n)
                for j in range(d)
            ]
            b = b - lr * (float(gb or 0) / Qf / n)
        # emit raw doubles; quantize ENGINE-side so rounding follows
        # SQL half-away semantics on both sides
        rows = [(dm, dn[dm], *alphas[dm]) for dm in doms]
        acols = ", ".join(f"a{t} double" for t in range(1, n_iter + 1))
        out = local_frame(
            v.sparkSession, rows, f"dom string, n_docs bigint, {acols}"
        )
        abar = sum(
            [F.col(f"a{t}") for t in range(2, n_iter + 1)],
            F.col("a1"),
        ) / F.lit(float(n_iter))
        return out.select(
            "dom",
            "n_docs",
            *[
                F.round(F.col(f"a{t}") * Q)
                .cast("long")
                .alias(f"alpha{t}_q")
                for t in range(1, n_iter + 1)
            ],
            F.round(abar * Q).cast("long").alias("alpha_bar_q"),
        )
    finally:
        v.unpersist()


def score_confusion(
    df: DataFrame,
    w: list[float],
    b: float,
    vec_col: str = "embedding",
    label_col: str = "y",
) -> DataFrame:
    """One-row confusion matrix of sign(w·x + b) against the binary
    label — the holdout-evaluation counterpart of logreg_fit."""
    v = df.select(
        as_double(vec_col).alias("x"),
        F.col(label_col).cast("int").alias("y"),
    )
    m = _margin(w, b)
    pred = (m > 0).cast("int")
    return v.select(pred.alias("p"), "y").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(((F.col("p") == 1) & (F.col("y") == 1)).cast("int"))
        .cast("long")
        .alias("tp"),
        F.sum(((F.col("p") == 1) & (F.col("y") == 0)).cast("int"))
        .cast("long")
        .alias("fp"),
        F.sum(((F.col("p") == 0) & (F.col("y") == 0)).cast("int"))
        .cast("long")
        .alias("tn"),
        F.sum(((F.col("p") == 0) & (F.col("y") == 1)).cast("int"))
        .cast("long")
        .alias("fn"),
    )


def logreg_sgd_minibatch(
    df: DataFrame,
    n_batches: int = 4,
    lr: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "y",
) -> DataFrame:
    """ONE EPOCH of deterministic mini-batch SGD: batch k is the
    vec_id % n_batches == k slice, applied in order — the regime
    that actually trains large models (full-batch GD touches the
    whole corpus per update; SGD updates n_batches times per epoch
    for the same scan cost). Same determinism devices as the
    full-batch trainer (rational sigmoid, quantized exact-integer
    gradient sums), gradient normalized by the BATCH size. Returns
    per step: (step, batch_tag, n_batch, n_correct on the FULL set
    with the post-update weights, w_checksum, b_q)."""
    v, u = _prep_vu(df, id_col, vec_col, label_col)
    v = v.persist()
    try:
        if v.count() == 0:
            raise ValueError("cannot train on an empty DataFrame")
        d = int(v.select(F.size("x")).first()[0])
        w = [0.0] * d
        b = 0.0
        out_rows = []
        for k in range(n_batches):
            vb = v.filter(F.col("vec_id") % n_batches == k)
            nb = vb.count()
            # an empty residue class contributes no update (the
            # oracle's gate data covers every residue; on data that
            # does not, the step is a recorded no-op)
            w, b = _gd_step(vb, u, w, b, lr, nb)
            m2 = _margin(w, b)
            n_correct = v.agg(
                F.sum(
                    F.when((m2 > 0) == (F.col("y") == 1), 1).otherwise(0)
                )
                .cast("long")
                .alias("c")
            ).first()["c"]
            chk = (
                v.sparkSession.range(1)
                .select(
                    sum(
                        [
                            F.round(F.lit(float(wj)) * Q).cast("long")
                            for wj in w
                        ],
                        start=F.lit(0).cast("long"),
                    ).alias("wc"),
                    F.round(F.lit(float(b)) * Q).cast("long").alias("bq"),
                )
                .first()
            )
            out_rows.append(
                (
                    k + 1,
                    k,
                    int(nb),
                    int(n_correct),
                    int(chk["bq"]),
                    int(chk["wc"]),
                )
            )
        return local_frame(
            v.sparkSession,
            out_rows,
            "step int, batch_tag int, n_batch bigint, n_correct bigint,"
            " b_q bigint, w_checksum bigint",
        )
    finally:
        v.unpersist()


def rank_perceptron_train_integer(
    df: DataFrame,
    n_iter: int = 3,
    q_bits: int = 12,
    n_pairs: int = 250,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise LEARNING-TO-RANK perceptron (the RankSVM/RankNet
    update shape on preference pairs) with the repo's all-integer
    determinism device: features quantize once to ROUND(x*2^q_bits),
    each pair becomes the difference vector d = xq_winner -
    xq_loser, and the classic rank-perceptron update w += d fires on
    misranked pairs (w.d <= 0). Pair labels come from a hidden
    integer utility h = sum(first half) - sum(second half of dims)
    over the QUANTIZED features, so the supervision itself is
    integer-exact and learnable by construction — the feature-based
    counterpart of ml_bradley_terry_strengths (which aggregates
    per-item strengths without features).

    Returns one row per iteration (misranked count under PRE-update
    weights, POST-update checksum) plus a final EVAL row
    (iter = n_iter + 1) scoring the trained weights on the same
    pairs — all BIGINT.

    Scale shape: the broadcast-weights topology of every trainer in
    this module — weights are d integers in a map-side expression;
    the update is one filtered aggregate keyed by feature position;
    pairs shuffle once to build the difference relation and never
    again."""
    qf = float(1 << q_bits)
    d = int(
        df.select(F.size(as_double(vec_col)).alias("d")).first()["d"]
    )
    half = d // 2
    q = df.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(as_double(vec_col)).alias("pos0", "xv"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("xv") * qf).cast("long").alias("xq"),
    )
    h = q.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("pos") <= half, F.col("xq")).otherwise(-F.col("xq"))
        )
        .cast("long")
        .alias("h")
    )
    ha = h.filter(F.col("vec_id") < n_pairs).select(
        F.col("vec_id").alias("pid"), F.col("h").alias("h_a")
    )
    hb = h.filter(
        (F.col("vec_id") >= n_pairs) & (F.col("vec_id") < 2 * n_pairs)
    ).select((F.col("vec_id") - n_pairs).alias("pid"), F.col("h").alias("h_b"))
    pairs = ha.join(hb, "pid").select(
        "pid", (F.col("h_a") > F.col("h_b")).alias("a_wins")
    )
    qa = q.filter(F.col("vec_id") < n_pairs).select(
        F.col("vec_id").alias("pid"), "pos", F.col("xq").alias("xq_a")
    )
    qb = q.filter(
        (F.col("vec_id") >= n_pairs) & (F.col("vec_id") < 2 * n_pairs)
    ).select(
        (F.col("vec_id") - n_pairs).alias("pid"),
        "pos",
        F.col("xq").alias("xq_b"),
    )
    u = (
        qa.join(qb, ["pid", "pos"])
        .join(pairs, "pid")
        .select(
            "pid",
            "pos",
            F.when(
                F.col("a_wins"), F.col("xq_a") - F.col("xq_b")
            )
            .otherwise(F.col("xq_b") - F.col("xq_a"))
            .alias("dq"),
        )
        .persist()
    )
    try:
        w = [0] * d
        out_rows = []

        def margins(weights):
            warr = F.array(*[F.lit(int(wj)) for wj in weights])
            return u.groupBy("pid").agg(
                F.sum(F.element_at(warr, F.col("pos")) * F.col("dq"))
                .alias("m")
            )

        for it in range(1, n_iter + 1):
            mis = margins(w).filter(F.col("m") <= 0).select("pid").persist()
            try:
                n_mis = mis.count()
                upd = (
                    u.join(mis, "pid")
                    .groupBy("pos")
                    .agg(F.sum("dq").alias("s"))
                    .collect()
                )
            finally:
                mis.unpersist()
            sums = {r["pos"]: r["s"] for r in upd}
            w = [w[j] + int(sums.get(j + 1, 0)) for j in range(d)]
            out_rows.append((it, int(n_mis), int(sum(w))))
        n_mis_final = margins(w).filter(F.col("m") <= 0).count()
        out_rows.append((n_iter + 1, int(n_mis_final), int(sum(w))))
        return local_frame(
            df.sparkSession,
            out_rows,
            "iter int, n_misranked bigint, w_checksum bigint",
        )
    finally:
        u.unpersist()
