"""DEC — deep embedded clustering (Xie/Girshick/Farhadi, ICML'16) without
torch.

Reference: ``ClusterAssignment``/``DEC`` (caspr/models/dec.py:10-119) and
the KMeans init + accuracy utilities (caspr/utils/segmentation/
dec_utils.py:9-66). The student-t soft assignment and the target
distribution are closed-form given centroids, so the *scoring* side is
pure Spark column expressions — map-only over the embeddings, one tiny
global aggregate for the target distribution's cluster frequencies —
and is exactly recomputable by a SQL oracle. The *training* side
(centroid updates under the KL objective) is an iterative numpy loop on
the driver, mirroring the reference's single-node torch loop; the
gradient is the DEC paper's closed form, verified against numerical
differentiation in tests.

Scale shape: ``soft_assignment`` adds k map-side expressions per row (no
shuffle, no UDF); ``target_distribution`` adds one single-row aggregate
broadcast back with a cross join. At 100 TB both are scan-bound.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.train_distributed import (_bundles, _fold_partitions,
                                           _rebuild, _shard_by_ids)


# --------------------------------------------------------------------------
# Spark-side closed-form scoring
# --------------------------------------------------------------------------

def xavier_centers(k: int, dim: int, seed: int = 42) -> np.ndarray:
    """Xavier-uniform initial centroids — ``ClusterAssignment.__init__``'s
    default when no centers are given (caspr/models/dec.py:31-37)."""
    a = float(np.sqrt(6.0 / (k + dim)))
    return np.random.default_rng(seed).uniform(-a, a, size=(k, dim))


def _norm_sq(vec_col, center: np.ndarray):
    """Σ_d (x_d - c_d)² as a left-fold so SQL oracles can match the
    floating-point addition order exactly."""
    lit = F.array(*[F.lit(float(v)) for v in center])
    diffs = F.zip_with(F.col(vec_col).cast("array<double>"), lit,
                       lambda x, c: (x - c) * (x - c))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def soft_assignment(df: DataFrame, vec_col: str, centers: np.ndarray,
                    alpha: float = 1.0, prefix: str = "q") -> DataFrame:
    """Student-t soft assignment q_ij (caspr/models/dec.py:42-57):

        q_ij = (1 + ||z_i - mu_j||^2 / alpha)^-((alpha+1)/2) / Z_i

    One column per cluster, all map-side expressions."""
    k = len(centers)
    power = (alpha + 1.0) / 2.0
    nums = [F.pow(1.0 / (1.0 + _norm_sq(vec_col, centers[j]) / alpha), power)
            for j in range(k)]
    total = nums[0]
    for expr in nums[1:]:
        total = total + expr
    out = df
    for j in range(k):
        out = out.withColumn(f"{prefix}{j}", nums[j] / total)
    return out


def target_distribution(df: DataFrame, k: int, prefix: str = "q",
                        out_prefix: str = "p",
                        int_sum_scale: int | None = None) -> DataFrame:
    """Auxiliary target p_ij (caspr/models/dec.py:107-119, Eq. 3):

        p_ij = (q_ij^2 / f_j) / Σ_j' (q_ij'^2 / f_j'),   f_j = Σ_i q_ij

    The f_j vector is one single-row aggregate, broadcast back via a
    cross join — the only non-map step, and it carries k doubles.

    ``int_sum_scale`` makes f_j partition-order independent: q is scaled,
    rounded to a long, and summed as integers (exact, associative), then
    divided back. With q pre-rounded to 6dp and scale=10**6 the sum is
    bit-identical on any engine and any row order — use it whenever the
    result feeds a hash-compared oracle at scale."""
    if int_sum_scale:
        freqs = df.agg(*[
            (F.sum(F.round(F.col(f"{prefix}{j}") * int_sum_scale)
                   .cast("long")).cast("double") / float(int_sum_scale))
            .alias(f"__f{j}") for j in range(k)])
    else:
        freqs = df.agg(*[F.sum(f"{prefix}{j}").alias(f"__f{j}")
                         for j in range(k)])
    out = df.crossJoin(F.broadcast(freqs))
    # q*q rather than pow(q, 2) so a SQL oracle can reproduce it bit-for-bit
    weights = [F.col(f"{prefix}{j}") * F.col(f"{prefix}{j}")
               / F.col(f"__f{j}") for j in range(k)]
    total = weights[0]
    for expr in weights[1:]:
        total = total + expr
    for j in range(k):
        out = out.withColumn(f"{out_prefix}{j}", weights[j] / total)
    return out.drop(*[f"__f{j}" for j in range(k)])


def hard_assignment(df: DataFrame, k: int, prefix: str = "q",
                    out_col: str = "cluster") -> DataFrame:
    """argmax_j q_ij (dec_utils.py:91 ``max(1)[1]``); ties -> lowest j."""
    best = F.greatest(*[F.col(f"{prefix}{j}") for j in range(k)])
    expr = F.lit(k - 1)
    for j in range(k - 2, -1, -1):
        expr = F.when(F.col(f"{prefix}{j}") == best, j).otherwise(expr)
    return df.withColumn(out_col, expr.cast("int"))


def kl_divergence(df: DataFrame, k: int, p_prefix: str = "p",
                  q_prefix: str = "q") -> float:
    """Mean KL(P || Q) — the DEC objective (dec.py:103, KLDivLoss / N)."""
    terms = [F.col(f"{p_prefix}{j}")
             * F.log(F.col(f"{p_prefix}{j}") / F.col(f"{q_prefix}{j}"))
             for j in range(k)]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return float(df.agg(F.avg(total)).collect()[0][0])


# --------------------------------------------------------------------------
# numpy-side training (centroid refinement under the KL objective)
# --------------------------------------------------------------------------

def _soft_np(Z: np.ndarray, centers: np.ndarray, alpha: float = 1.0):
    nsq = ((Z[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    num = (1.0 + nsq / alpha) ** (-(alpha + 1.0) / 2.0)
    return num / num.sum(axis=1, keepdims=True)


def _target_np(q: np.ndarray) -> np.ndarray:
    w = q ** 2 / q.sum(axis=0)
    return w / w.sum(axis=1, keepdims=True)


def kmeans_np(Z: np.ndarray, k: int, seed: int = 42, n_init: int = 20,
              iters: int = 100) -> tuple[np.ndarray, np.ndarray]:
    """Seeded Lloyd KMeans with ``n_init`` restarts (the reference init,
    dec_utils.py:17 ``KMeans(model.cluster_number, n_init=20)``)."""
    rng = np.random.default_rng(seed)
    best_inertia, best = np.inf, None
    for _ in range(n_init):
        centers = Z[rng.choice(len(Z), size=k, replace=False)].copy()
        for _ in range(iters):
            d = ((Z[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            lab = d.argmin(axis=1)
            new = np.stack([Z[lab == j].mean(axis=0) if (lab == j).any()
                            else centers[j] for j in range(k)])
            if np.allclose(new, centers):
                centers = new
                break
            centers = new
        lab = ((Z[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2) \
            .argmin(axis=1)
        inertia = float(((Z - centers[lab]) ** 2).sum())
        if inertia < best_inertia:
            best_inertia, best = inertia, (centers, lab)
    return best


def dec_loss_and_grad(Z: np.ndarray, centers: np.ndarray,
                      alpha: float = 1.0, p: np.ndarray | None = None):
    """Mean KL(P||Q) and its gradient w.r.t. the centroids.

    DEC paper §3.1.3: dL/dmu_j = -((alpha+1)/alpha) Σ_i
    (1 + ||z_i - mu_j||²/alpha)^{-1} (p_ij - q_ij)(z_i - mu_j) — here
    scaled by 1/N to match the mean loss (dec.py:103 divides by batch).
    Pass ``p`` to hold the target distribution fixed (DEC refreshes the
    target only every ``update_interval`` steps); ``None`` recomputes it
    from the current ``q``."""
    n = len(Z)
    diff = Z[:, None, :] - centers[None, :, :]          # [N,k,d]
    nsq = (diff ** 2).sum(axis=2)
    inv = 1.0 / (1.0 + nsq / alpha)
    q = _soft_np(Z, centers, alpha)
    if p is None:
        p = _target_np(q)
    loss = float((p * np.log(p / q)).sum() / n)
    coef = ((alpha + 1.0) / alpha) * inv * (p - q) / n  # [N,k]
    grad = -(coef[:, :, None] * diff).sum(axis=0)       # [k,d]
    return loss, grad, q, p


def fit_dec(Z: np.ndarray, k: int, alpha: float = 1.0, epochs: int = 100,
            lr: float = 0.5, seed: int = 42, tol: float = 1e-3,
            target_refresh: int = 1,
            init_centers: np.ndarray | None = None
            ) -> tuple[np.ndarray, list[float]]:
    """KMeans init + gradient refinement of centroids under the KL
    objective (encoder frozen — the closed-form half of the reference's
    joint optimization; :func:`fit_dec_joint` adds the encoder half).
    Stops when the assignment-change fraction drops below ``tol`` (the
    reference's delta-label criterion). ``init_centers`` skips the
    KMeans init (used by the distributed/joint parity paths so both
    sides refine from the same start).

    .. versionchanged:: round 6
        The delta-label check now compares CONSECUTIVE EPOCHS'
        assignments and is skipped at epoch 0. The previous formulation
        compared epoch-0 labels against the init labels, which are the
        SAME labels (argmax q equals argmin distance under identical
        centers), so the loop always stopped after one epoch and the
        "refinement" never refined. Rows-only query outputs change
        accordingly — they now reflect real KL descent.

    .. versionchanged:: round 7
        BOTH exit paths now return centers paired with ``history[-1]``:
        the GD step is skipped on the final budgeted epoch, so epoch
        exhaustion no longer applies one extra unrecorded update (the
        break path never did). ``epochs=N`` therefore means N loss
        evaluations and N-1 steps — ``epochs=1`` (and any
        ``epochs < 2``) returns the init centers unrefined; ask for at
        least 2 epochs to take a gradient step. The same convention
        applies to every fit in this module."""
    if init_centers is None:
        centers, labels = kmeans_np(Z, k, seed=seed)
    else:
        centers = np.asarray(init_centers, dtype=np.float64)
        labels = _soft_np(Z, centers, alpha).argmax(axis=1)
    centers = centers.astype(np.float64)
    prev = labels
    history: list[float] = []
    p = None
    for epoch in range(epochs):
        if epoch % max(target_refresh, 1) == 0:
            p = None                       # refresh target from current q
        loss, grad, q, p = dec_loss_and_grad(Z, centers, alpha, p=p)
        history.append(loss)
        lab = q.argmax(axis=1)
        if epoch > 0 and (lab != prev).mean() < tol:
            break                          # converged: keep these centers
        prev = lab
        if epoch == epochs - 1:
            break       # budget exhausted: centers still match history[-1]
        centers = centers - lr * grad
    return centers, history


def dec_loss_and_grads_joint(Z: np.ndarray, centers: np.ndarray,
                             alpha: float = 1.0,
                             p: np.ndarray | None = None):
    """:func:`dec_loss_and_grad` extended with the EMBEDDING gradient —
    the piece joint optimization backpropagates into the encoder
    (caspr/models/dec.py:10-119 wraps the AE so autograd produces this;
    here it is the closed form, gradcheck'd):

        dL/dz_i = ((alpha+1)/alpha) Σ_j (1+||z_i-mu_j||²/alpha)^{-1}
                  (p_ij - q_ij)(z_i - mu_j) / N

    Returns ``(loss, grad_centers, grad_z, q, p)``; note
    ``grad_z_i = -Σ_j`` of the per-(i,j) center contributions, i.e. the
    row-sum mirror of the centroid gradient."""
    n = len(Z)
    diff = Z[:, None, :] - centers[None, :, :]          # [N,k,d]
    nsq = (diff ** 2).sum(axis=2)
    inv = 1.0 / (1.0 + nsq / alpha)
    q = _soft_np(Z, centers, alpha)
    if p is None:
        p = _target_np(q)
    loss = float((p * np.log(p / q)).sum() / n)
    coef = ((alpha + 1.0) / alpha) * inv * (p - q) / n  # [N,k]
    grad_c = -(coef[:, :, None] * diff).sum(axis=0)     # [k,d]
    grad_z = (coef[:, :, None] * diff).sum(axis=1)      # [N,d]
    return loss, grad_c, grad_z, q, p


def fit_dec_joint(model, bundle, k: int, alpha: float = 1.0,
                  epochs: int = 40, lr_centers: float = 0.5,
                  lr_encoder: float = 1e-3, seed: int = 42,
                  tol: float = 1e-3, target_refresh: int = 1,
                  init_centers: np.ndarray | None = None):
    """JOINT deep embedded clustering: the KL objective optimized over
    BOTH the centroids and the encoder parameters — the reference's
    actual DEC (caspr/models/dec.py:10-119 backprops the KL loss into
    the wrapped autoencoder; here the closed-form embedding gradient
    chains through ``SequenceAutoencoder.encode_and_grads``'s VJP).
    Centroids take plain GD steps (the closed-form half), the encoder
    takes Adam steps on the chained gradient; the target distribution
    refreshes every ``target_refresh`` epochs and the delta-label
    criterion stops the loop, both exactly as :func:`fit_dec`.

    Driver-side over an in-memory bundle; the full-table twin is
    :func:`fit_dec_joint_distributed` (the query runs that one), and
    the frozen-centroid half has :func:`fit_dec_distributed`.

    ``epochs`` follows the same N−1-steps convention as
    :func:`fit_dec`: N loss evaluations, N−1 optimizer steps — the
    final budgeted epoch only records its loss, so ``epochs=1``
    returns the init state unrefined.

    Returns ``(model, centers, history)``.
    """
    from caspr_spark.models.autoencoder import Adam

    args = (bundle.seq_cat, bundle.seq_cont, bundle.non_seq_cat,
            bundle.non_seq_cont)
    Z = model.encode(*args)
    if init_centers is None:
        centers, prev = kmeans_np(Z, k, seed=seed)
        centers = centers.astype(np.float64)
    else:
        centers = np.asarray(init_centers, dtype=np.float64)
        prev = _soft_np(Z, centers, alpha).argmax(axis=1)
    opt = Adam(model.params, lr=lr_encoder)
    history: list[float] = []
    p = None
    for epoch in range(epochs):
        Z = model.encode(*args)
        if epoch % max(target_refresh, 1) == 0:
            p = None
        loss, grad_c, grad_z, q, p = dec_loss_and_grads_joint(
            Z, centers, alpha, p=p)
        history.append(loss)
        lab = q.argmax(axis=1)
        if epoch > 0 and (lab != prev).mean() < tol:
            break
        prev = lab
        if epoch == epochs - 1:
            break       # budget exhausted: state still matches history[-1]
        _, g_enc = model.encode_and_grads(*args, dh=grad_z)
        opt.step(model.params, g_enc, lr_encoder)
        centers = centers - lr_centers * grad_c
    return model, centers, history


def fit_dec_joint_distributed(model, wide_df: DataFrame, roles,
                              seq_len: int, k: int, alpha: float = 1.0,
                              epochs: int = 40, lr_centers: float = 0.5,
                              lr_encoder: float = 1e-3, seed: int = 42,
                              tol: float = 0.0, target_refresh: int = 1,
                              init_centers: np.ndarray | None = None,
                              init_sample: int = 1024,
                              world_size: int = 4):
    """JOINT deep embedded clustering over the WHOLE DataFrame — the
    distributed composition of :func:`fit_dec_joint`'s two gradient
    halves (r7 verdict item 2): per epoch every partition streams its
    Arrow batches through tensorize → ``model.encode`` → the
    closed-form per-row KL gradients, chains the embedding gradient
    into the encoder via ``SequenceAutoencoder.encode_and_grads``'s
    VJP, and emits ONE pickled partial ``(n, Σ loss, Σ grad_centers,
    Σ n·grad_θ)``; the driver weighted-folds the partials into the
    exact global gradients — every term is a sum over rows, so the
    fold reproduces :func:`fit_dec_joint` on the collected matrix up
    to float summation order (parity-tested) — then takes one Adam
    step on the encoder and one GD step on the centroids. No driver
    materialization of rows, ever: the driver holds the parameter
    dict and ``k·d`` doubles.

    Each partial carries a FULL encoder-gradient dict, so the input is
    repartitioned once (hash on the entity id, the same sharding as
    :func:`~caspr_spark.train_distributed.fit_deep_autoencoder_sgd`)
    to ``world_size`` shards before the epoch loop — driver ingest per
    epoch is O(world_size × |θ|), independent of how many partitions
    the 100 TB upstream relation arrives in (a raw-partition fold
    would collect 10⁵-10⁶ model-sized blobs). The reference's Horovod
    path allreduces across a fixed world the same way
    (caspr/utils/spark/large/train.py:137-147). The sharded copy is
    persisted and unpersisted internally; a caller-persisted
    ``wide_df`` is left untouched (it feeds the one repartition scan).

    ``model`` must carry ``ctor_kwargs`` (set by the
    ``fit_deep_autoencoder_*`` constructors) so executors can rebuild
    the architecture and load the broadcast parameters.

    Target handling is EXACT for any ``target_refresh`` — stronger
    than :func:`fit_dec_distributed`'s fixed-frequency caveat: the
    full N×k target matrix a refresh epoch pins is never stored;
    instead the kernel carries the ANCHOR state (parameters,
    centers, frequencies) of the last refresh epoch and recomputes
    each row's ``p_i`` map-side from it — ``p_i`` is a pure function
    of the row's anchored embedding, so one extra encode per batch
    (skipped at refresh epochs, where anchor == current) replaces
    the per-row state entirely, and the semantics equal
    :func:`fit_dec_joint` for every refresh interval.

    The delta-label stop needs labels under the PREVIOUS epoch's
    (params, centers) — one more encode per batch — so it is computed
    only when ``tol > 0``; the default ``tol=0.0`` runs the full
    epoch budget (``epochs`` loss evaluations, ``epochs - 1`` steps,
    the same N−1 convention as :func:`fit_dec`).

    KMeans init runs on a BOUNDED md5-ordered ``init_sample`` of rows
    encoded driver-side (the stated-bound discipline of
    :func:`fit_dec_distributed`), or pass ``init_centers``.
    Returns ``(model, centers, history)``.
    """
    from caspr_spark.models.autoencoder import Adam

    if world_size < 1:
        raise ValueError(f"world_size must be >= 1, got {world_size}")
    ids = [F.col(c).cast("string") for c in roles.tgt_id]

    def _snapshot():
        return {kk: v.copy() for kk, v in model.params.items()}

    def _freq_part(batches, m, C_):
        f = np.zeros(len(C_))
        for bb in _bundles(batches, roles, seq_len):
            Z = m.encode(bb.seq_cat, bb.seq_cont, bb.non_seq_cat,
                         bb.non_seq_cont)
            f += _soft_np(Z, C_, alpha).sum(axis=0)
        return f

    def _joint_part(batches, m, st):
        C_, (pa, Ca, fa), fresh_, prev_ = st
        # anchor state differs from current only off refresh epochs
        ma = None if fresh_ else _rebuild(type(m), m.ctor_kwargs, pa)
        mp = (None if prev_ is None
              else _rebuild(type(m), m.ctor_kwargs, prev_[0]))
        kk, d = C_.shape
        g_c = np.zeros((kk, d))
        g_enc = None
        loss_sum = 0.0
        changed = 0
        for bb in _bundles(batches, roles, seq_len):
            args = (bb.seq_cat, bb.seq_cont, bb.non_seq_cat, bb.non_seq_cont)
            Z = m.encode(*args)
            diff = Z[:, None, :] - C_[None, :, :]
            nsq = (diff ** 2).sum(axis=2)
            inv = 1.0 / (1.0 + nsq / alpha)
            q = _soft_np(Z, C_, alpha)
            # the row's PINNED target: q under the anchor state (the last
            # refresh epoch), normalized by the anchor frequencies —
            # identical to the p-matrix row fit_dec_joint froze then
            qa = q if fresh_ else _soft_np(ma.encode(*args), Ca, alpha)
            w = qa * qa / fa
            p = w / w.sum(axis=1, keepdims=True)
            loss_sum += float((p * np.log(p / q)).sum())
            # UNNORMALIZED per-row coefficients — the driver divides the
            # folded sums by the global N, which is unknown shard-side
            coef = ((alpha + 1.0) / alpha) * inv * (p - q)
            g_c += -(coef[:, :, None] * diff).sum(axis=0)
            dZ = (coef[:, :, None] * diff).sum(axis=1)
            _, gb = m.encode_and_grads(*args, dh=dZ)
            if g_enc is None:
                g_enc = gb
            else:
                for kk2 in g_enc:
                    g_enc[kk2] += gb[kk2]
            if mp is not None:
                lab = q.argmax(axis=1)
                labp = _soft_np(mp.encode(*args), prev_[1],
                                alpha).argmax(axis=1)
                changed += int((lab != labp).sum())
        return loss_sum, g_c, g_enc, changed

    who = "fit_dec_joint_distributed"
    # one gradient partial per SHARD, not per input partition: hash-
    # sharded on the entity id so the driver fold is O(world_size x |θ|)
    # the init sample (or the first frequency pass) scans every shard,
    # which fills the cache
    wide = _shard_by_ids(wide_df, ids, world_size).persist()
    try:
        if init_centers is not None:
            centers = np.asarray(init_centers, dtype=np.float64)
        else:
            from caspr_spark.data.tensorize import transform_and_load
            sample = (wide.orderBy(F.md5(F.concat_ws("|", *ids)))
                      .limit(init_sample).toPandas())
            b = transform_and_load(sample, roles, seq_len, keep_ids=False)
            Z0 = model.encode(b.seq_cat, b.seq_cont, b.non_seq_cat,
                              b.non_seq_cont)
            centers, _ = kmeans_np(Z0, k, seed=seed)
            centers = centers.astype(np.float64)

        def _freq_pass(C):
            parts = _fold_partitions(wide, _freq_part, C, model, who=who)
            return sum(f for _, f in parts)

        def _joint_pass(C, anchor, fresh, prev):
            parts = _fold_partitions(wide, _joint_part,
                                     (C, anchor, fresh, prev), model, who=who)
            n = sum(n_ for n_, _ in parts)
            loss = sum(p_[0] for _, p_ in parts) / n
            g_c = sum(p_[1] for _, p_ in parts) / n
            g_enc = {kk: sum(p_[2][kk] for _, p_ in parts) / n
                     for kk in parts[0][1][2]}
            changed = sum(p_[3] for _, p_ in parts) / n
            return loss, g_c, g_enc, changed

        opt = Adam(model.params, lr=lr_encoder)
        history: list[float] = []
        anchor = None
        anchor_epoch = -1
        prev = None
        for epoch in range(epochs):
            if epoch % max(target_refresh, 1) == 0:
                anchor = (_snapshot(), centers, _freq_pass(centers))
                anchor_epoch = epoch
            loss, g_c, g_enc, changed = _joint_pass(
                centers, anchor, anchor_epoch == epoch, prev)
            history.append(loss)
            if tol > 0 and epoch > 0 and changed < tol:
                break
            if tol > 0:
                prev = (_snapshot(), centers)
            if epoch == epochs - 1:
                break   # budget exhausted: state still matches history[-1]
            opt.step(model.params, g_enc, lr_encoder)
            centers = centers - lr_centers * g_c
    finally:
        wide.unpersist()
    return model, centers, history


# --------------------------------------------------------------------------
# Distributed centroid fit (no driver-side data materialization)
# --------------------------------------------------------------------------

def fit_dec_distributed(df: DataFrame, vec_col: str = "embedding",
                        k: int = 10, alpha: float = 1.0, epochs: int = 100,
                        lr: float = 0.5, seed: int = 42, tol: float = 1e-3,
                        target_refresh: int = 1, id_col: str = "vec_id",
                        init_sample: int = 10000,
                        init_centers: np.ndarray | None = None):
    """Distributed twin of :func:`fit_dec`: the DEC centroid gradient is
    a row-sum, so each epoch is TWO small aggregations over the
    embedding DataFrame (the same communication shape as the linear
    AE's Gram pass — k doubles, then k·(d+1) doubles per partition):

    1. cluster frequencies ``f_j = Σ_i q_ij`` (q is map-side given the
       broadcast centers);
    2. the loss, the ``[k,d]`` centroid gradient partial sums, and the
       delta-label count vs the previous epoch's centers — labels under
       BOTH center sets are recomputed map-side in the same pass, so no
       per-row label state is ever stored or joined.

    Both passes stream partitions through a vectorized numpy kernel in
    a Python worker (the shared fold of ``train_distributed``) and emit
    one pickled partial per partition;
    the driver folds them and takes the GD step — it holds ``k·d``
    doubles, never rows. KMeans init runs on a BOUNDED deterministic
    sample (``init_sample`` rows, md5-ordered by ``id_col`` — the same
    stated-bound discipline as ``tsne_sample_frame``), or skip it by
    passing ``init_centers``. For the same init the trajectory equals
    :func:`fit_dec` on the collected matrix up to float summation order
    (parity-tested).

    ``target_refresh`` is EXACT for any interval (round 8 — previously
    only the frequency vector was held fixed between refreshes): the
    embeddings are immutable here, so each row's PINNED target
    ``p_i`` is a pure function of the ANCHOR (centers, frequencies)
    captured at the last refresh epoch and is recomputed map-side —
    one extra ``q`` evaluation per batch, skipped at refresh epochs —
    never stored. The semantics equal :func:`fit_dec` exactly at
    every refresh interval (parity-tested at 1 and 5).

    ``epochs`` follows :func:`fit_dec`'s N−1-steps convention — N loss
    evaluations, N−1 GD steps; ``epochs=1`` evaluates but never steps.

    Returns ``(centers, history)``.
    """
    if init_centers is not None:
        centers = np.asarray(init_centers, dtype=np.float64)
    else:
        sample = (df.select(id_col, vec_col)
                  .orderBy(F.md5(F.col(id_col).cast("string")))
                  .limit(init_sample).toPandas())
        Zs = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
        centers, _ = kmeans_np(Zs, k, seed=seed)
        centers = centers.astype(np.float64)

    def _vectors(batches):
        for pdf in batches:
            yield np.stack(pdf[vec_col].to_numpy()).astype(np.float64)

    def _freq_part(batches, _, C_):
        f = np.zeros(len(C_))
        for Z in _vectors(batches):
            f += _soft_np(Z, C_, alpha).sum(axis=0)
        return f

    def _grad_part(batches, _, st):
        C_, Cp_, (Ca_, fa_), fresh_ = st
        kk, d = C_.shape
        g = np.zeros((kk, d))
        loss_sum = 0.0
        changed = 0
        for Z in _vectors(batches):
            diff = Z[:, None, :] - C_[None, :, :]
            nsq = (diff ** 2).sum(axis=2)
            inv = 1.0 / (1.0 + nsq / alpha)
            q = _soft_np(Z, C_, alpha)
            # the row's PINNED target: q under the anchor centers
            # (identical to the full-p matrix fit_dec froze at the
            # refresh epoch — Z is immutable here, so the anchored
            # recomputation is exact)
            qa = q if fresh_ else _soft_np(Z, Ca_, alpha)
            w = qa * qa / fa_
            p = w / w.sum(axis=1, keepdims=True)
            loss_sum += float((p * np.log(p / q)).sum())
            coef = ((alpha + 1.0) / alpha) * inv * (p - q)
            g += -(coef[:, :, None] * diff).sum(axis=0)
            lab = q.argmax(axis=1)
            prev_lab = _soft_np(Z, Cp_, alpha).argmax(axis=1)
            changed += int((lab != prev_lab).sum())
        return g, loss_sum, changed

    who = "fit_dec_distributed"
    vecs = df.select(vec_col).persist()   # filled by the first _freq_pass
    try:
        def _freq_pass(C):
            return sum(f for _, f in
                       _fold_partitions(vecs, _freq_part, C, who=who))

        def _grad_pass(C, C_prev, anchor, fresh):
            parts = _fold_partitions(vecs, _grad_part,
                                     (C, C_prev, anchor, fresh), who=who)
            g = sum(p_[0] for _, p_ in parts)
            loss_sum = sum(p_[1] for _, p_ in parts)
            changed = sum(p_[2] for _, p_ in parts)
            n = sum(n_ for n_, _ in parts)
            return g / n, loss_sum / n, changed / n

        history: list[float] = []
        prev_centers = centers
        anchor = None
        anchor_epoch = -1
        for epoch in range(epochs):
            if epoch % max(target_refresh, 1) == 0:
                anchor = (centers, _freq_pass(centers))
                anchor_epoch = epoch
            grad, loss, changed_frac = _grad_pass(
                centers, prev_centers, anchor, anchor_epoch == epoch)
            history.append(loss)
            if epoch > 0 and changed_frac < tol:
                break                       # converged: keep these centers
            prev_centers = centers
            if epoch == epochs - 1:
                break   # budget exhausted: centers still match history[-1]
            centers = centers - lr * grad
    finally:
        vecs.unpersist()
    return centers, history


def cluster_accuracy(y_true: np.ndarray, y_pred: np.ndarray,
                     cluster_number: int | None = None):
    """Best-permutation accuracy via the Hungarian method
    (dec_utils.py:47-66; scipy absent, so the O(n³) potentials-and-
    augmenting-paths assignment solver is inlined)."""
    y_true = np.asarray(y_true, dtype=np.int64)
    y_pred = np.asarray(y_pred, dtype=np.int64)
    if cluster_number is None:
        cluster_number = int(max(y_pred.max(), y_true.max()) + 1)
    count = np.zeros((cluster_number, cluster_number), dtype=np.int64)
    for pr, tr in zip(y_pred, y_true):
        count[pr, tr] += 1
    row, col = _linear_sum_assignment(count.max() - count)
    reassignment = dict(zip(row.tolist(), col.tolist()))
    accuracy = count[row, col].sum() / len(y_pred)
    return reassignment, float(accuracy)


def _linear_sum_assignment(cost: np.ndarray):
    """Hungarian algorithm (square cost, minimize): classic potentials +
    augmenting paths, O(n³)."""
    cost = np.asarray(cost, dtype=np.float64)
    n = cost.shape[0]
    u = np.zeros(n + 1)
    v = np.zeros(n + 1)
    match = np.zeros(n + 1, dtype=np.int64)   # match[j] = row assigned to col j
    way = np.zeros(n + 1, dtype=np.int64)
    for i in range(1, n + 1):
        match[0] = i
        j0 = 0
        minv = np.full(n + 1, np.inf)
        used = np.zeros(n + 1, dtype=bool)
        while True:
            used[j0] = True
            i0, delta, j1 = match[j0], np.inf, -1
            for j in range(1, n + 1):
                if used[j]:
                    continue
                cur = cost[i0 - 1, j - 1] - u[i0] - v[j]
                if cur < minv[j]:
                    minv[j] = cur
                    way[j] = j0
                if minv[j] < delta:
                    delta = minv[j]
                    j1 = j
            for j in range(n + 1):
                if used[j]:
                    u[match[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if match[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            match[j0] = match[j1]
            j0 = j1
    rows = np.empty(n, dtype=np.int64)
    for j in range(1, n + 1):
        rows[j - 1] = match[j] - 1
    # rows[j] = row assigned to col j; invert to (row_ind, col_ind)
    col_of_row = np.empty(n, dtype=np.int64)
    for j in range(n):
        col_of_row[rows[j]] = j
    idx = np.arange(n)
    return idx, col_of_row
