"""Distributed-training semantics: allreduce data pass, consensus stop,
and a TorchDistributor scaffold gated on torch's presence.

Reference: ``caspr/utils/spark/large/train.py:114-183`` and
``caspr/utils/horovod/train.py:30-170`` — the semantics are

1. **lr × world_size** (large/train.py:134): synchronous data-parallel
   training multiplies the effective batch by the worker count; the
   linear-scaling rule compensates.
2. **Broadcast initial parameters** (large/train.py:137) so every worker
   starts from the same point.
3. **Allreduce** gradients/metrics (horovod/train.py:31 —
   ``metric_average``), weighted here by shard row counts so unequal
   shards still reproduce the global objective exactly.
4. **Root-rank early-stop consensus** (horovod/train.py:44 — the stop
   decision is taken once on the allreduced loss and broadcast, so no
   worker leaves the collective early and deadlocks the rest).

This container has no torch, so the file provides the semantics at two
levels: :func:`fit_linear_autoencoder_ddp` runs REAL data-parallel
training — per-shard Gram matrices from one distributed aggregation,
weighted allreduce on the driver, consensus early stop — and is tested
for exact parity with the single-process fit;
:func:`fit_torch_distributed` wires the same choices into
``pyspark.ml.torch.distributor.TorchDistributor`` behind a lazy import
and raises with guidance until torch exists.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.train import (EarlyStopping, LinearAutoencoder, scale_lr,
                               warmup_lr)

ROOT_RANK = 0  # large/train.py:49


class DistributedEarlyStopping:
    """Consensus early stopping (horovod/train.py:36-52).

    Every rank feeds the same allreduced loss; only the root's stopper
    state decides, and the decision is "broadcast" (returned to every
    caller) so all ranks stop at the same epoch. In-process the broadcast
    is trivial, but the contract — one decision, taken on the averaged
    loss, applied everywhere — is what prevents the distributed deadlock.
    """

    def __init__(self, patience: int = 8, min_delta: float = 1e-5):
        self._root = EarlyStopping(patience=patience, min_delta=min_delta)

    def step_all(self, allreduced_loss: float, epoch: int,
                 state: list[np.ndarray]) -> bool:
        stop = self._root.step(allreduced_loss, epoch, state)
        return stop  # same value delivered to every rank

    @property
    def best_state(self):
        return self._root.best_state


def allreduce_weighted(parts: list[tuple[np.ndarray, int]]) -> tuple[np.ndarray, int]:
    """Weighted allreduce: Σ contributions and Σ counts.

    Horovod's ``metric_average`` is an unweighted mean — correct only for
    equal shards; summing (value, count) pairs reproduces the exact
    global statistic for any sharding, which is what makes the DDP fit
    below bit-for-bit match the single-process objective.
    """
    total = sum(n for _, n in parts)
    acc = np.zeros_like(parts[0][0])
    for v, _ in parts:
        acc = acc + v
    return acc, total


def _sharded_gram(df: DataFrame, cols: list[str],
                  world_size: int) -> list[tuple[np.ndarray, int]]:
    """Per-worker partial ``XᵀX``: ONE distributed aggregation grouped by
    a deterministic shard id (what each DDP worker would compute over its
    own partition of the data). Still a single scan + one tiny shuffle of
    ``world_size`` partial rows."""
    d = len(cols)
    shard = F.pmod(F.xxhash64(*[F.col(c) for c in cols]),
                   F.lit(world_size)).alias("__shard")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i in range(d):
        for j in range(i, d):
            aggs.append(F.sum(F.col(cols[i]) * F.col(cols[j]))
                        .alias(f"__g_{i}_{j}"))
    rows = (df.na.fill(0.0, subset=cols).select(shard, *cols)
              .groupBy("__shard").agg(*aggs).collect())
    parts = []
    for r in rows:
        G = np.zeros((d, d))
        for i in range(d):
            for j in range(i, d):
                G[i, j] = G[j, i] = float(r[f"__g_{i}_{j}"] or 0.0)
        parts.append((G, int(r["__n"])))
    return parts


def fit_linear_autoencoder_ddp(df: DataFrame, cols: list[str],
                               hidden_dim: int, world_size: int = 4,
                               epochs: int = 100, lr: float = 0.01,
                               warmup_epochs: int = 5, patience: int = 8,
                               min_delta: float = 1e-5, seed: int = 42):
    """Data-parallel twin of ``fit_linear_autoencoder``.

    Each of the ``world_size`` logical workers contributes its shard's
    Gram matrix (computed distributed, one pass); the weighted allreduce
    rebuilds the exact global ``C``, every worker starts from the same
    broadcast ``W`` (same seed), steps see the per-worker lr
    ``scale_lr(lr, world) / world`` — the linear-scaling rule followed by
    the gradient mean, which is why DDP training matches single-process
    training exactly for full-batch GD — and the stop decision comes
    from :class:`DistributedEarlyStopping` on the allreduced loss.

    Returns ``(LinearAutoencoder, loss_history)``; for any
    ``world_size`` the result equals the single-process fit up to float
    summation order (asserted by tests).
    """
    parts = _sharded_gram(df, cols, world_size)
    G, n = allreduce_weighted(parts)
    C = G / max(n, 1)
    d = len(cols)
    # identical normalization + schedule as the local loop
    eff_lr = scale_lr(lr, world_size) / world_size
    eff_lr = eff_lr / max(1.0, float(np.trace(C)))
    rng = np.random.default_rng(seed)          # broadcast init: same W on
    W = rng.normal(0, 0.1, size=(hidden_dim, d))   # every rank
    stopper = DistributedEarlyStopping(patience=patience, min_delta=min_delta)
    history: list[float] = []
    for epoch in range(epochs):
        P = W.T @ W
        R = np.eye(d) - P
        loss = float(np.trace(R @ C @ R.T))    # allreduced loss (exact C)
        history.append(loss)
        if stopper.step_all(loss, epoch, [W]):
            break
        M = C @ R.T + R @ C
        grad = -(W @ M)
        W = W - warmup_lr(eff_lr, epoch, warmup_epochs) * grad
    if stopper.best_state:
        W = stopper.best_state[0]
    return LinearAutoencoder(W=W), history


# --------------------------------------------------------------------------
# Distributed training of the REAL autoencoders (recurrent + transformer)
# --------------------------------------------------------------------------
#
# Reference semantics: caspr/utils/spark/large/train.py:114-183 trains the
# deep autoencoders data-parallel — each worker owns a shard, computes the
# gradient of the shared loss on its shard, gradients are allreduced, every
# rank applies the same optimizer step, the stop decision is taken once on
# the allreduced loss. The machinery below reproduces exactly that without
# torch: per-shard gradients run inside ``mapInPandas`` (tensorize +
# numpy backprop per Arrow batch, weighted-summed within the shard), the
# driver weighted-allreduces to the EXACT global full-batch gradient —
# every loss term is a mean whose normalizer is proportional to the shard
# row count, so Σ n_w · meangrad_w / Σ n_w IS the global mean gradient up
# to float summation order — and Adam + linear warmup + consensus early
# stop run once on the driver and apply to the single shared parameter
# set. Each worker's shard is its (fixed) batch, i.e. synchronous
# data-parallel training with one step per epoch; the lr linear-scaling
# rule followed by the world-size gradient mean cancels, the same
# cancellation the linear DDP fit documents.
#
# Every Python-worker pass — the DDP gradient and local-SGD rounds, the
# loss and embedding-variance probes, the distributed attribution summary
# and DEC's frequency and gradient passes — goes through ONE wire format,
# :func:`_fold_partitions`: state and model pickled once into the kernel,
# the model rebuilt per task, one pickled partial per partition, partials
# of empty partitions dropped. A pass supplies its per-batch arithmetic
# and folds the partials on the driver.
#
# The driver never holds data — only parameters (tens of KB) and one
# (n, loss, gradient) triple per shard per epoch. At 100 TB the per-epoch
# cost is one scan of the persisted featurized table; nothing else grows.


def _fold_partitions(df: DataFrame, part, state=None, model=None, *,
                     who: str) -> list:
    """Run ``part(batches, model, state)`` once per partition of ``df`` in
    a Python worker and return ``[(rows, partial)]`` for the partitions
    that saw rows, in partition order.

    ``batches`` yields the partition's non-empty pandas batches;
    ``model`` is rebuilt from ``(type(model), ctor_kwargs, state_dict)``
    when one is shipped (else None); ``state`` is any picklable value.
    Both are pickled once, into the kernel's closure. ``part``'s return
    value is the partition's partial. Raises ``ValueError`` naming
    ``who`` when no partition saw a row.
    """
    import pickle

    recipe = None if model is None else (
        type(model), model.ctor_kwargs,
        {k: np.asarray(v) for k, v in model.state_dict().items()})
    blob = pickle.dumps((state, recipe))

    def kernel(batches):
        import pandas as pd

        st, rec = pickle.loads(blob)
        m = None if rec is None else _rebuild(*rec)
        n = 0

        def rows():
            nonlocal n
            for pdf in batches:
                if len(pdf):
                    n += len(pdf)
                    yield pdf

        out = part(rows(), m, st)
        yield pd.DataFrame({"n": [n],
                            "part": [pickle.dumps(out) if n else b""]})

    parts = [(int(r.n), pickle.loads(bytes(r.part))) for r in
             df.mapInPandas(kernel, "n long, part binary").collect()
             if r.n > 0]
    if not parts:
        raise ValueError(f"{who}: empty input")
    return parts


def _rebuild(cls, ctor_kwargs, state):
    """A model of class ``cls`` built from ``ctor_kwargs`` with ``state``
    loaded — how executors receive the driver's parameters."""
    m = cls(**ctor_kwargs)
    m.load_state(state)
    m.ctor_kwargs = ctor_kwargs
    return m


def _bundles(batches, roles, seq_len: int):
    """Tensorize each pandas batch of the wide layout."""
    from caspr_spark.data.tensorize import transform_and_load

    for pdf in batches:
        yield transform_and_load(pdf, roles, seq_len, keep_ids=False)


def _role_split(roles, seq_len: int):
    """The same role partitioning ``transform_and_load`` applies."""
    seq_cat = [c for c in roles.seq_cols if c in roles.cat_cols]
    seq_cont = [c for c in roles.seq_cols
                if c in roles.cont_cols or c in roles.date_cols]
    non_seq_cat = [c for c in roles.non_seq_cols if c in roles.cat_cols]
    non_seq_cont = [c for c in roles.non_seq_cols
                    if c in roles.cont_cols or c in roles.date_cols]
    return seq_cat, seq_cont, non_seq_cat, non_seq_cont


def _vocab_aggs(roles, seq_len: int) -> list:
    """The aggregates behind the global per-column vocab sizes of the wide
    layout (max code over every slot), plus the row count so the list is
    never empty."""
    seq_cat, _, non_seq_cat, _ = _role_split(roles, seq_len)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in seq_cat:
        slots = [F.coalesce(F.col(f"{s}_{c}"), F.lit(0)).cast("long")
                 for s in range(1, seq_len + 1)]
        expr = slots[0] if len(slots) == 1 else F.greatest(*slots)
        aggs.append(F.max(expr).alias(f"__sv_{c}"))
    for c in non_seq_cat:
        aggs.append(F.max(F.coalesce(F.col(c), F.lit(0)).cast("long"))
                    .alias(f"__nv_{c}"))
    return aggs


def _read_vocab(row, roles, seq_len: int):
    """``(seq_vocab, non_seq_vocab)`` — max code + 1, floor 2 — from a row
    of :func:`_vocab_aggs`: the distributed twin of the local fits'
    ``bundle.seq_cat[..., i].max() + 1``."""
    seq_cat, _, non_seq_cat, _ = _role_split(roles, seq_len)
    return ([max(int(row[f"__sv_{c}"] or 0) + 1, 2) for c in seq_cat],
            [max(int(row[f"__nv_{c}"] or 0) + 1, 2) for c in non_seq_cat])


def _build_deep_model(arch: str, seq_vocab, n_seq_cont, non_seq_vocab,
                      n_non_seq_cont, seq_len: int, hidden_dim: int,
                      seed: int, **arch_kwargs):
    """Construct the architecture with a picklable (cls, kwargs) recipe so
    executors can rebuild an identical (shape-wise) model and load the
    broadcast parameters into it."""
    from caspr_spark.models.factory import embedding_dim

    common = dict(seq_vocab=list(seq_vocab),
                  seq_emb_dims=[embedding_dim(v) for v in seq_vocab],
                  n_seq_cont=n_seq_cont,
                  non_seq_vocab=list(non_seq_vocab),
                  non_seq_emb_dims=[embedding_dim(v) for v in non_seq_vocab],
                  n_non_seq_cont=n_non_seq_cont, seq_len=seq_len, seed=seed)
    if arch in ("mlp", "lstm", "lstm_attention"):
        from caspr_spark.models.autoencoder import SequenceAutoencoder
        kwargs = dict(common, hidden_dim=hidden_dim, encoder=arch)
        cls = SequenceAutoencoder
    elif arch == "transformer":
        from caspr_spark.models.transformer_ae import \
            TransformerSequenceAutoencoder
        kwargs = dict(common, hid_dim=hidden_dim,
                      n_heads=arch_kwargs.pop("n_heads", 2),
                      n_enc_layers=arch_kwargs.pop("n_enc_layers", 1),
                      n_dec_layers=arch_kwargs.pop("n_dec_layers", 1),
                      pf_dim=arch_kwargs.pop("pf_dim", 32))
        cls = TransformerSequenceAutoencoder
    else:
        raise ValueError(f"arch must be mlp/lstm/lstm_attention/"
                         f"transformer, got {arch!r}")
    if arch_kwargs:
        raise ValueError(f"unknown arch kwargs {sorted(arch_kwargs)}")
    model = cls(**kwargs)
    model.ctor_kwargs = kwargs          # executors rebuild from it
    return model


def _sharded_model(sharded: DataFrame, roles, seq_len: int, arch: str,
                   hidden_dim: int, seed: int, **arch_kwargs):
    """The model for a sharded fit. Its vocab aggregate is the first
    query over the persisted ``sharded``, so it also fills the cache the
    epochs rescan."""
    seq_vocab, non_seq_vocab = _read_vocab(
        sharded.agg(*_vocab_aggs(roles, seq_len)).collect()[0],
        roles, seq_len)
    _, seq_cont, _, non_seq_cont = _role_split(roles, seq_len)
    return _build_deep_model(arch, seq_vocab, len(seq_cont), non_seq_vocab,
                             len(non_seq_cont), seq_len, hidden_dim, seed,
                             **arch_kwargs)


def _bundle_model(bundle, arch: str, hidden_dim: int, seed: int,
                  **arch_kwargs):
    """The model for a local fit over an in-memory bundle, with the vocab
    sizes (max code + 1, floor 2) read off the bundle."""
    seq_vocab = [max(int(bundle.seq_cat[..., i].max()) + 1, 2)
                 for i in range(bundle.seq_cat.shape[-1])]
    non_seq_vocab = [max(int(bundle.non_seq_cat[:, j].max()) + 1, 2)
                     for j in range(bundle.non_seq_cat.shape[-1])]
    seq_len = bundle.seq_cat.shape[1] or bundle.seq_cont.shape[1]
    return _build_deep_model(
        arch, seq_vocab, bundle.seq_cont.shape[-1], non_seq_vocab,
        bundle.non_seq_cont.shape[-1], seq_len, hidden_dim, seed,
        **arch_kwargs)


def _consensus_adam_loop(model, grad_fn, epochs: int, lr: float,
                         warmup_epochs: int, patience: int,
                         min_delta: float, world_size: int):
    """The shared synchronous-training loop: allreduced loss history,
    one Adam step per epoch on the pre-step gradient, root-rank stop
    consensus, best-state restore. Both the DDP fit and the local
    full-batch twin run THIS loop — the only difference is where
    ``grad_fn`` computes, which is exactly the property the parity bit
    certifies."""
    from caspr_spark.models.autoencoder import Adam

    eff_lr = scale_lr(lr, world_size) / world_size   # stated rule; cancels
    opt = Adam(model.params, lr=eff_lr)
    stopper = DistributedEarlyStopping(patience=patience,
                                       min_delta=min_delta)
    history: list[float] = []
    for epoch in range(epochs):
        loss, grads = grad_fn(model.params)
        history.append(loss)
        if stopper.step_all(loss, epoch,
                            [model.params[k] for k in sorted(model.params)]):
            break
        opt.step(model.params, grads,
                 warmup_lr(eff_lr, epoch, warmup_epochs))
    if stopper.best_state:
        for k, w in zip(sorted(model.params), stopper.best_state):
            model.params[k] = w
    return history


def fit_deep_autoencoder_ddp(wide_df: DataFrame, roles, seq_len: int,
                             arch: str = "mlp", hidden_dim: int = 32,
                             world_size: int = 4, epochs: int = 50,
                             lr: float = 1e-3, warmup_epochs: int = 5,
                             patience: int = 8, min_delta: float = 1e-5,
                             seed: int = 42, **arch_kwargs):
    """Data-parallel training of the REAL autoencoders from a wide
    featurized DataFrame — no driver materialization of the data, ever.

    ``arch``: ``"mlp"`` / ``"lstm"`` / ``"lstm_attention"`` (the
    :class:`~caspr_spark.models.autoencoder.SequenceAutoencoder`
    encoders) or ``"transformer"``
    (:class:`~caspr_spark.models.transformer_ae.TransformerSequenceAutoencoder`,
    extra kwargs ``n_heads``/``n_enc_layers``/``n_dec_layers``/``pf_dim``).

    Per epoch: parameters ship to the ``world_size`` shards (closure
    capture — tens of KB), each shard streams its Arrow batches through
    tensorize + numpy backprop and emits ONE (Σ n·loss, Σ n·grad)
    partial, the driver weighted-allreduces and takes one Adam step. The
    input is round-robin sharded and persisted once up front; the vocab
    aggregate fills that cache, so epochs rescan the cached relation,
    not the upstream pipeline. Returns ``(model, loss_history)``; for
    any ``world_size`` the trajectory equals the single-process
    full-batch fit up to float summation order (the parity tests and
    the ``train_*_ddp`` queries assert it).
    """
    def part(batches, m, _):
        acc, loss_sum = None, 0.0
        for b in _bundles(batches, roles, seq_len):
            loss, g = m.loss_and_grads(b.seq_cat, b.seq_cont,
                                       b.non_seq_cat, b.non_seq_cont)
            nb = len(b)
            loss_sum += loss * nb
            if acc is None:
                acc = {k: v * nb for k, v in g.items()}
            else:
                for k in acc:
                    acc[k] += g[k] * nb
        return loss_sum, acc

    sharded = wide_df.repartition(world_size).persist()
    try:
        model = _sharded_model(sharded, roles, seq_len, arch, hidden_dim,
                               seed, **arch_kwargs)

        def grad_fn(params):
            parts = _fold_partitions(sharded, part, model=model,
                                     who="fit_deep_autoencoder_ddp")
            n_tot = sum(n for n, _ in parts)
            loss = sum(l for _, (l, _) in parts) / n_tot
            grads = {k: sum(g[k] for _, (_, g) in parts) / n_tot
                     for k in parts[0][1][1]}
            return loss, grads

        history = _consensus_adam_loop(model, grad_fn, epochs, lr,
                                       warmup_epochs, patience, min_delta,
                                       world_size)
    finally:
        sharded.unpersist()
    return model, history


def _shard_by_ids(df: DataFrame, ids, world_size: int) -> DataFrame:
    """Hash-shard a relation on the entity id into exactly
    ``world_size`` partitions — the fixed world every per-shard-partial
    trainer folds over (one model-sized blob per SHARD on the driver,
    never one per input partition)."""
    # repartition on the RAW 64-bit hash: pre-modding to 0..world-1 and
    # letting repartition Murmur3 that tiny key domain again collapses
    # shards (measured: world=2 landed every row in ONE partition,
    # world=8 filled only 4) — the single mod inside repartition over
    # the full hash domain fills every partition
    return df.repartition(world_size, F.xxhash64(*ids))


def fit_deep_autoencoder_sgd(wide_df: DataFrame, roles, seq_len: int,
                             arch: str = "mlp", hidden_dim: int = 32,
                             world_size: int = 4, epochs: int = 10,
                             batch_size: int = 512, lr: float = 1e-3,
                             warmup_epochs: int = 0, patience: int = 8,
                             min_delta: float = 1e-5, seed: int = 42,
                             **arch_kwargs):
    """MINIBATCH/stochastic mode of :func:`fit_deep_autoencoder_ddp` —
    local SGD with periodic weighted parameter averaging.

    The reference's scale path takes MANY optimizer steps per epoch by
    iterating Petastorm batches of 32768 rows per worker
    (caspr/utils/spark/large/train.py:35,152-183). Full-batch GD
    (:func:`fit_deep_autoencoder_ddp`) is the exactness/parity anchor but
    pays one step per table scan; this mode restores the reference's
    convergence-per-IO: per epoch (= one scan of the persisted wide
    relation) every shard streams its Arrow batches through minibatches
    of ``batch_size`` rows, taking one LOCAL Adam step per minibatch,
    and the driver weighted-averages the shard parameters —
    ``θ ← Σ n_w θ_w / Σ n_w`` — the classic local-SGD / periodic-
    averaging contract (the allreduce-per-step form would need one
    driver round-trip per minibatch, which is exactly the latency a
    100 TB scan cannot afford).

    Per round, each shard's Arrow batches are re-chunked into
    minibatches of exactly ``batch_size`` rows (the last chunk may be
    short); memory stays bounded by ``max(batch_size, arrow batch)``
    rows, and the optimizer state is shard-local and lives only for the
    round.

    Determinism: shards are hash-assigned on the entity id and each
    shard is sorted by ``md5(id)``, so the minibatch sequence — hence
    the result — is a pure function of (data, seed, world_size,
    batch_size), independent of task scheduling. Changing
    ``world_size`` changes the batch partition (local SGD is not
    shard-count-invariant, unlike the full-batch mode — the property
    tests pin determinism, the world-1 == sequential-minibatch parity,
    and better-loss-than-full-batch at equal scans instead).

    The per-epoch loss history records the STREAMING training loss
    (each minibatch evaluated before its step, weighted by rows);
    consensus early stop runs on it. Returns ``(model, history)``.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")

    def part(batches, m, eff_lr):
        import pandas as pd

        from caspr_spark.data.tensorize import transform_and_load
        from caspr_spark.models.autoencoder import Adam

        opt = Adam(m.params, lr=eff_lr)
        loss_sum = 0.0

        def step(pdf):
            nonlocal loss_sum
            b = transform_and_load(pdf, roles, seq_len, keep_ids=False)
            loss, g = m.loss_and_grads(b.seq_cat, b.seq_cont,
                                       b.non_seq_cat, b.non_seq_cont)
            opt.step(m.params, g, eff_lr)
            loss_sum += loss * len(pdf)

        # one concat per incoming Arrow batch, then a cursor over
        # sequential batch_size windows — re-concatenating the residual
        # on every pop would copy O(B²/batch_size) rows per Arrow batch
        carry = None
        for pdf in batches:
            chunk = (pdf if carry is None
                     else pd.concat([carry, pdf], ignore_index=True))
            pos = 0
            while len(chunk) - pos >= batch_size:
                step(chunk.iloc[pos:pos + batch_size]
                     .reset_index(drop=True))
                pos += batch_size
            carry = chunk.iloc[pos:] if pos < len(chunk) else None
        if carry is not None and len(carry):
            step(carry.reset_index(drop=True))
        return loss_sum, {k: np.asarray(v) for k, v in m.params.items()}

    ids = [F.col(c).cast("string") for c in roles.tgt_id]
    sharded = (_shard_by_ids(wide_df, ids, world_size)
               .sortWithinPartitions(F.md5(F.concat_ws("|", *ids)))
               .persist())
    try:
        model = _sharded_model(sharded, roles, seq_len, arch, hidden_dim,
                               seed, **arch_kwargs)
        stopper = DistributedEarlyStopping(patience=patience,
                                           min_delta=min_delta)
        history: list[float] = []
        for epoch in range(epochs):
            parts = _fold_partitions(
                sharded, part, warmup_lr(lr, epoch, warmup_epochs), model,
                who="fit_deep_autoencoder_sgd")
            n_tot = sum(n for n, _ in parts)
            loss = sum(l for _, (l, _) in parts) / n_tot
            for k in model.params:
                model.params[k] = sum(p[k] * n for n, (_, p) in parts) / n_tot
            history.append(loss)
            if stopper.step_all(loss, epoch,
                                [model.params[k]
                                 for k in sorted(model.params)]):
                break
    finally:
        sharded.unpersist()
    if stopper.best_state:
        for k, w in zip(sorted(model.params), stopper.best_state):
            model.params[k] = w
    return model, history


def fit_deep_autoencoder_sgd_local(bundle, arch: str = "mlp",
                                   hidden_dim: int = 32, epochs: int = 10,
                                   batch_size: int = 512, lr: float = 1e-3,
                                   warmup_epochs: int = 0, patience: int = 8,
                                   min_delta: float = 1e-5, seed: int = 42,
                                   **arch_kwargs):
    """Sequential-minibatch twin of :func:`fit_deep_autoencoder_sgd`
    over an in-memory bundle, rows taken IN THE GIVEN ORDER — exactly
    what the distributed fit computes at ``world_size=1`` when the
    bundle holds the shard's rows in its sorted order (the parity
    tests feed it that order). The local Adam resets each epoch, like
    the shard-local optimizer whose state lives only for the round."""
    from caspr_spark.models.autoencoder import Adam

    model = _bundle_model(bundle, arch, hidden_dim, seed, **arch_kwargs)
    n = bundle.seq_cat.shape[0]
    stopper = DistributedEarlyStopping(patience=patience,
                                       min_delta=min_delta)
    history: list[float] = []
    for epoch in range(epochs):
        opt = Adam(model.params, lr=lr)
        eff_lr = warmup_lr(lr, epoch, warmup_epochs)
        loss_sum = 0.0
        for start in range(0, n, batch_size):
            sl = slice(start, min(start + batch_size, n))
            loss, g = model.loss_and_grads(
                bundle.seq_cat[sl], bundle.seq_cont[sl],
                bundle.non_seq_cat[sl], bundle.non_seq_cont[sl])
            opt.step(model.params, g, eff_lr)
            loss_sum += loss * (sl.stop - sl.start)
        history.append(loss_sum / n)
        if stopper.step_all(history[-1], epoch,
                            [model.params[k] for k in sorted(model.params)]):
            break
    if stopper.best_state:
        for k, w in zip(sorted(model.params), stopper.best_state):
            model.params[k] = w
    return model, history


def evaluate_loss(model, wide_df: DataFrame, roles, seq_len: int) -> float:
    """Full-data mean loss of ``model`` computed DISTRIBUTED — one
    Python-worker pass emitting Σ n·loss per partition; the driver
    folds. The shared yardstick the SGD-vs-full-batch queries use so
    both training modes are scored on the identical objective."""
    def part(batches, m, _):
        s = 0.0
        for b in _bundles(batches, roles, seq_len):
            s += m.loss(b) * len(b)   # forward only — no backward pass
        return s

    parts = _fold_partitions(wide_df, part, model=model,
                             who="evaluate_loss")
    return float(sum(s for _, s in parts) / sum(n for n, _ in parts))


def fit_deep_autoencoder_local(bundle, arch: str = "mlp",
                               hidden_dim: int = 32, epochs: int = 50,
                               lr: float = 1e-3, warmup_epochs: int = 5,
                               patience: int = 8, min_delta: float = 1e-5,
                               seed: int = 42, **arch_kwargs):
    """Single-process FULL-BATCH twin of :func:`fit_deep_autoencoder_ddp`
    over an in-memory :class:`TensorBundle` — same model construction,
    same loop, same schedule, ``world_size=1`` — the parity reference
    the DDP trajectory is asserted against in tests."""
    model = _bundle_model(bundle, arch, hidden_dim, seed, **arch_kwargs)

    def grad_fn(params):
        return model.loss_and_grads(bundle.seq_cat, bundle.seq_cont,
                                    bundle.non_seq_cat, bundle.non_seq_cont)

    history = _consensus_adam_loop(model, grad_fn, epochs, lr,
                                   warmup_epochs, patience, min_delta,
                                   world_size=1)
    return model, history


def encode_variance(model, wide_df: DataFrame, roles, seq_len: int) -> float:
    """Mean-over-dims variance of the model embedding across the WHOLE
    DataFrame, computed distributed: each partition streams its batches
    through ``model.encode`` and emits (Σe, Σe²); the driver folds
    the moment sums. Replaces the ``emb.var()`` the driver-local train
    queries used to compute on a collected bundle."""
    def part(batches, m, _):
        s = s2 = None
        for b in _bundles(batches, roles, seq_len):
            e = m.encode(b.seq_cat, b.seq_cont, b.non_seq_cat,
                         b.non_seq_cont)
            if s is None:
                s = e.sum(axis=0)
                s2 = (e * e).sum(axis=0)
            else:
                s += e.sum(axis=0)
                s2 += (e * e).sum(axis=0)
        return s, s2

    parts = _fold_partitions(wide_df, part, model=model,
                             who="encode_variance")
    n_tot = sum(n for n, _ in parts)
    s = sum(p[0] for _, p in parts)
    s2 = sum(p[1] for _, p in parts)
    var = s2 / n_tot - (s / n_tot) ** 2
    return float(np.maximum(var, 0.0).mean())


def fit_torch_distributed(train_fn=None, num_processes: int = 2,
                          local_mode: bool = True, use_gpu: bool = False,
                          **train_kwargs):
    """TorchDistributor entry point (gated): runs ``train_fn`` under
    ``pyspark.ml.torch.distributor.TorchDistributor`` with the reference
    semantics pre-wired into ``train_kwargs``:

    - ``train_kwargs['lr']`` is scaled by ``num_processes`` (the
      large/train.py:134 rule) before dispatch;
    - ``train_fn`` receives ``(rank-local) train_kwargs`` and must
      broadcast parameters from ``ROOT_RANK`` and take its stop decision
      from the allreduced loss — :class:`DistributedEarlyStopping` shows
      the exact contract.

    Raises ImportError with guidance while torch is absent; the wiring
    activates unchanged the moment it is installed.
    """
    try:
        import torch  # noqa: F401
        from pyspark.ml.torch.distributor import TorchDistributor
    except ImportError as exc:
        raise ImportError(
            "fit_torch_distributed needs the optional 'torch' package "
            "(TorchDistributor ships with pyspark but dispatches torch "
            "processes). Install torch to enable distributed deep "
            "training; fit_linear_autoencoder_ddp provides the same "
            "allreduce/consensus semantics torch-free.") from exc
    if train_fn is None:
        raise ValueError("train_fn is required")
    train_kwargs = dict(train_kwargs)
    if "lr" in train_kwargs:
        train_kwargs["lr"] = scale_lr(train_kwargs["lr"], num_processes)
    dist = TorchDistributor(num_processes=num_processes,
                            local_mode=local_mode, use_gpu=use_gpu)
    return dist.run(train_fn, **train_kwargs)
