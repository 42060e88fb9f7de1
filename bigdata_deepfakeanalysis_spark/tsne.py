"""Compact exact t-SNE (numpy-only) — the M4 solver.

Mirrors the reference's sklearn usage (``src/analyze_embedding_with_
tsne.py:59-77``): perplexity clamped to ``min(p, max(5, n-1))``, PCA
init, fixed seed, Euclidean affinities — implemented as the standard
exact O(N²) algorithm (van der Maaten & Hinton 2008: per-point
binary-searched Gaussian bandwidths, symmetrized affinities, early
exaggeration, momentum gradient descent on the Student-t low-dim
kernel). O(N²) is by design: the engine only ever feeds this a
cap-sampled collect (SURVEY X5 — the reference caps at ≤500/group
before its own t-SNE for the same reason), so N is bounded and the
quadratic stage never runs distributed.
"""

from __future__ import annotations

import numpy as np

# the reference's perplexity and seed; the solver's iteration count
# and learning rate
_PERPLEXITY = 30.0
_N_ITER = 500
_SEED = 42
_LR = 200.0


def _conditional_p(D2: np.ndarray, perplexity: float) -> np.ndarray:
    """Per-row Gaussian affinities with bandwidth binary-searched so
    each row's entropy hits log(perplexity)."""
    n = D2.shape[0]
    P = np.zeros((n, n))
    log_u = np.log(perplexity)
    for i in range(n):
        beta, beta_lo, beta_hi = 1.0, 0.0, np.inf
        di = np.delete(D2[i], i)
        for _ in range(50):
            w = np.exp(-di * beta)
            s = w.sum()
            if s <= 0:
                h = 0.0
                p = np.zeros_like(w)
            else:
                p = w / s
                h = -(p * np.log(np.maximum(p, 1e-300))).sum()
            if abs(h - log_u) < 1e-5:
                break
            if h > log_u:  # too flat → narrow the kernel
                beta_lo = beta
                beta = beta * 2 if beta_hi == np.inf else (beta + beta_hi) / 2
            else:
                beta_hi = beta
                beta = beta / 2 if beta_lo == 0 else (beta + beta_lo) / 2
        P[i] = np.insert(p, i, 0.0)
    return P


def tsne_exact(X: np.ndarray) -> tuple[np.ndarray, list[float]]:
    """Exact t-SNE to 2-D. Returns (coords [N,2], KL history sampled
    every 50 iterations — tests assert it decreases). Deterministic
    given X."""
    n_iter = _N_ITER
    X = np.asarray(X, dtype=np.float64)
    n = X.shape[0]
    if n < 4:  # degenerate input: PCA-style projection is the best map
        Xc = X - X.mean(axis=0)
        _, _, vt = np.linalg.svd(Xc, full_matrices=False)
        Y = Xc @ vt[:2].T if vt.shape[0] >= 2 else np.zeros((n, 2))
        return Y, [0.0]
    # clamp so the entropy target is reachable: the binary search solves
    # H(p) = log(perp) over n-1 neighbors, and H is bounded by log(n-1) —
    # perp > n-1 would never converge (burns all iterations returning
    # near-uniform affinities on tiny samples)
    perp = min(_PERPLEXITY, max(5.0, float(n - 1) / 3.0), float(n - 2))

    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    P = _conditional_p(d2, perp)
    P = (P + P.T) / (2.0 * n)
    P = np.maximum(P / P.sum(), 1e-12)

    # PCA init (deterministic; SVD sign fixed so runs are reproducible)
    Xc = X - X.mean(axis=0)
    _, _, vt = np.linalg.svd(Xc, full_matrices=False)
    vt = vt * np.sign(vt[np.arange(vt.shape[0]), np.abs(vt).argmax(1)])[:, None]
    Y = (Xc @ vt[:2].T) * 1e-4
    rng = np.random.RandomState(_SEED)
    Y = Y + rng.normal(0, 1e-6, Y.shape)  # break exact ties, seeded

    vel = np.zeros_like(Y)
    gains = np.ones_like(Y)
    exaggeration, exag_until = 12.0, 100
    kl_history: list[float] = []
    for it in range(n_iter):
        Pe = P * exaggeration if it < exag_until else P
        dy2 = ((Y[:, None, :] - Y[None, :, :]) ** 2).sum(-1)
        num = 1.0 / (1.0 + dy2)
        np.fill_diagonal(num, 0.0)
        Q = np.maximum(num / num.sum(), 1e-12)
        W = Pe - Q
        G = 4.0 * (((W * num)[:, :, None]) * (Y[:, None, :] - Y[None, :, :])
                   ).sum(axis=1)
        momentum = 0.5 if it < 250 else 0.8
        gains = np.where(np.sign(G) != np.sign(vel),
                         gains + 0.2, gains * 0.8).clip(0.01)
        vel = momentum * vel - _LR * gains * G
        Y = Y + vel
        Y = Y - Y.mean(axis=0)
        if it % 50 == 0 or it == n_iter - 1:
            kl_history.append(float((P * np.log(P / Q)).sum()))
    return Y, kl_history
