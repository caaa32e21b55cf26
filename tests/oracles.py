"""Pure-NumPy golden oracles transliterating the reference algorithm
semantics (no scipy in this environment; dense matrices are fine at test
scale).

Each function cites the reference source it transliterates so the engine
tests pin *reference* behaviour, not merely self-consistency.
"""

from __future__ import annotations

import numpy as np


def adjacency(n: int, edges, weights: bool = False) -> np.ndarray:
    A = np.zeros((n, n))
    if weights:
        for s, d, w in edges:
            A[s, d] = w
    else:
        for s, d in edges:
            A[s, d] = 1.0
    return A


def simple_pagerank(
    n: int,
    edges,
    alpha: float = 0.85,
    conv: float = 1e-7,
    max_iter: int = 1000,
):
    """simple_pagerank.hpp:196-460 — power iteration with dangling mass.

    Per iteration: dangling = Σ pr[rowsum==0]; scaled = pr * (α/rowsum)
    (0 on dangling rows); d = (α·dangling + 1-α)/n; pr' = scaledᵀ·A + d;
    residual = Σ|pr' - pr| (L1); stop at residual ≤ conv.
    """
    A = adjacency(n, edges)
    rowsum = A.sum(axis=1)
    inv = np.where(rowsum > 0, np.divide(alpha, np.where(rowsum > 0, rowsum, 1.0)), 0.0)
    pr = np.full(n, 1.0 / n)
    iters = 0
    while True:
        dangling = pr[rowsum == 0].sum()
        scaled = pr * inv
        d = (alpha * dangling + 1.0 - alpha) / n
        new = scaled @ A + d  # vxm: u[j] = Σ_i scaled[i] A[i,j]
        residual = np.abs(new - pr).sum()
        pr = new
        iters += 1
        if (conv != 0.0 and residual <= conv) or iters >= max_iter:
            return pr, iters, residual


def pregel_pagerank(
    n: int,
    edges,
    alpha: float = 0.15,
    tolerance: float = 1e-5,
    local_converge: bool = False,
    max_rounds: int = 0,
):
    """pregel_pagerank.hpp:87-144 over the pregel.hpp:650-920 round loop.

    Round 0 sets score=1; round>0: score = α + (1-α)·incoming, converged
    vertices either deactivate (local) or vote to halt (global). Broadcast
    out = score/outdeg. Inactive vertices keep their last out-message
    (the out SparsificationStrategy defaults to NONE, pregel.hpp:242) and those stale
    messages CONTINUE to be delivered — reference behaviour.
    """
    A = adjacency(n, edges)
    outdeg = A.sum(axis=1)
    score = np.zeros(n)
    out = np.zeros(n)  # Id of the add monoid
    incoming = np.zeros(n)
    active = np.ones(n, dtype=bool)
    step = 0
    while True:
        halt = np.zeros(n, dtype=bool)
        prev_active = active.copy()
        for i in np.where(active)[0]:
            if step == 0:
                score[i] = 1.0
            else:
                old = score[i]
                score[i] = alpha + (1.0 - alpha) * incoming[i]
                if abs(score[i] - old) < tolerance:
                    if local_converge:
                        active[i] = False
                    else:
                        halt[i] = True
            if outdeg[i] > 0:
                out[i] = score[i] / outdeg[i]
        step += 1
        if halt[prev_active].all() and prev_active.any():
            break
        if not active.any():
            break
        if max_rounds > 0 and step > max_rounds:
            break
        # in[j] = Σ_i out[i]A[i,j], output-masked to active
        incoming = np.where(active, out @ A, 0.0)
    return score, step


def pregel_connected_components(n: int, edges, max_rounds: int = 0):
    """pregel_connected_components.hpp:89-152: max-label flood over the
    Pregel loop; exact integer labels."""
    A = adjacency(n, edges) > 0
    outdeg = A.sum(axis=1)
    indeg = A.sum(axis=0)
    label = np.arange(n, dtype=np.int64)
    NEG_INF = np.iinfo(np.int64).min
    out = np.full(n, NEG_INF, dtype=np.int64)  # Id of max monoid
    incoming = np.full(n, NEG_INF, dtype=np.int64)
    active = np.ones(n, dtype=bool)
    step = 0
    while True:
        halt = np.zeros(n, dtype=bool)
        prev_active = active.copy()
        for i in np.where(active)[0]:
            if step > 0:
                if indeg[i] == 0:
                    halt[i] = True
                elif label[i] < incoming[i]:
                    label[i] = incoming[i]
                else:
                    halt[i] = True
            if outdeg[i] > 0:
                out[i] = label[i]
            else:
                halt[i] = True
        step += 1
        if halt[prev_active].all() and prev_active.any():
            break
        if not active.any():
            break
        if max_rounds > 0 and step > max_rounds:
            break
        # in[j] = max over i with edge (i,j) of out[i]; Id where no message
        msgs = np.where(A, out[:, None], NEG_INF).max(axis=0)
        incoming = np.where(active, msgs, NEG_INF)
    return label, step


def label_propagation(
    n: int, weighted_edges, y: np.ndarray, l: int, max_iterations: int = 1000
):
    """label.hpp:122-290: fNext = W·f, threshold fNext·dinv at 0.5 into
    {0,1}, clamp first l entries to f (≡ y), converge when nothing flips."""
    W = adjacency(n, weighted_edges, weights=True)
    diag = W.sum(axis=1)
    dinv = 1.0 / diag
    f = y.astype(float).copy()
    it = 1
    while it < max_iterations:
        fnext = W @ f
        fnext = np.where(fnext * dinv < 0.5, 0.0, 1.0)
        fnext[:l] = f[:l]
        if not (f != fnext).any():
            return fnext, it, True
        f = fnext
        it += 1
    return f, it, False


def triangle_count(n: int, edges) -> int:
    """Masked-SpGEMM triangle count (SURVEY.md §2.6/§2.11): undirected
    graph given as both-direction edge list; count = trace(A³)/6."""
    A = adjacency(n, edges)
    return int(round(np.trace(A @ A @ A) / 6.0))


def knn_reach(n: int, edges, source: int, k: int) -> np.ndarray:
    """knn.hpp:82-140: u = ((A+I)ᵀ)ᵏ e_source under (or, and), transposed
    mxv ⇒ forward reachability within ≤k hops (self included)."""
    M = ((adjacency(n, edges) + np.eye(n)) > 0).astype(float)
    v = np.zeros(n)
    v[source] = 1.0
    for _ in range(k):
        v = (M.T @ v > 0).astype(float)
    return v > 0


def kcore(n: int, edges) -> np.ndarray:
    """kcore_decomposition.hpp: coreness by iterative peeling (classic
    definition; the reference smoke-tests against ground truth)."""
    adj = [set() for _ in range(n)]
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    deg = np.array([len(a) for a in adj])
    core = np.zeros(n, dtype=np.int64)
    alive = set(range(n))
    k = 0
    while alive:
        peel = [v for v in alive if deg[v] <= k]
        if not peel:
            k += 1
            continue
        while peel:
            v = peel.pop()
            if v not in alive:
                continue
            core[v] = k
            alive.discard(v)
            for u in adj[v]:
                if u in alive:
                    deg[u] -= 1
                    if deg[u] <= k:
                        peel.append(u)
    return core


def conjugate_gradient(n, entries, b, tol=1e-5, max_iterations=1000):
    """conjugate_gradient.hpp:208-426: CG with tol scaled by sqrt(b'b);
    same update order and stopping rule as the engine."""
    A = np.zeros((n, n))
    for s, d, w in entries:
        A[s, d] = w
    x = np.zeros(n)
    r = b - A @ x
    u = r.copy()
    sigma = float(r @ r)
    eff_tol = tol * np.sqrt(float(b @ b))
    residual = sigma
    iters = 0
    if np.sqrt(residual) >= eff_tol:
        while True:
            iters += 1
            t = A @ u
            alpha = sigma / float(u @ t)
            x = x + alpha * u
            r = r - alpha * t
            residual = float(r @ r)
            if np.sqrt(residual) < eff_tol or iters >= max_iterations:
                break
            u = r + (residual / sigma) * u
            sigma = residual
    return x, iters, np.sqrt(residual), np.sqrt(residual) < eff_tol


def bicgstab(n, entries, b, tol=1e-5, max_iterations=1000):
    """bicgstab.hpp:160-480 with the squared-tolerance convention and
    pre-/post-stabilisation exits."""
    A = np.zeros((n, n))
    for s, d, w in entries:
        A[s, d] = w
    x = np.zeros(n)
    r = b - A @ x
    rhat = r.copy()
    p = np.zeros(n)
    v = np.zeros(n)
    residual = float(r @ r)
    eff_tol = tol * tol * float(b @ b)
    if residual < eff_tol:
        return x, 0, residual, True
    rho_old = alpha = omega = 1.0
    iters = 0
    converged = False
    while iters < max_iterations:
        iters += 1
        rho = float(rhat @ r)
        if rho == 0.0:
            break
        beta = (rho / rho_old) * (alpha / omega)
        p = r + beta * (p - omega * v)
        v = A @ p
        denom = float(rhat @ v)
        if denom == 0.0:
            break
        alpha = rho / denom
        s = r - alpha * v
        residual = float(s @ s)
        if residual < eff_tol:
            x = x + alpha * p
            converged = True
            break
        t = A @ s
        ts, tt = float(t @ s), float(t @ t)
        if ts == 0.0:
            break
        omega = ts / tt
        x = x + alpha * p + omega * s
        r = s - omega * t
        residual = float(r @ r)
        if residual < eff_tol:
            converged = True
            break
        rho_old = rho
    return x, iters, residual, converged


def kmeans_oracle(X, k, seed, max_iter=100):
    """kmeans.hpp:60-373 over a dense point matrix X (rows = points in
    id order): seeded kpp (reproducing the reference's scan of
    latest-centroid distances against the Σ-min-distances range,
    kmeans.hpp:142-168) + Lloyd's to the assignment fixpoint."""
    from alp_spark.algorithms.kmeans import kpp_draws

    X = np.asarray(X, dtype=float)
    n = len(X)
    first, samples = kpp_draws(n, k, seed)
    sel = first
    mind = np.full(n, np.inf)
    cents = []
    for l in range(k):
        c = X[sel].copy()
        cents.append(c)
        if l == k - 1:
            break
        dl = ((X - c) ** 2).sum(axis=1)
        mind = np.minimum(mind, dl)
        cum = np.cumsum(dl / mind.sum())
        hits = np.nonzero(cum >= samples[l])[0]
        sel = int(hits[0]) if len(hits) else n - 1
    C = np.array(cents)
    assign = dist = None
    iters = 0
    converged = False
    while iters < max_iter:
        iters += 1
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # ties -> smaller cluster index
        dist = d.min(axis=1)
        newC = C.copy()
        for j in range(k):
            m = assign == j
            if m.any():  # empty cluster keeps its centroid
                newC[j] = X[m].sum(axis=0) / m.sum()
        if np.array_equal(newC, C):
            converged = True
            break
        C = newC
    return assign, dist, C, iters, converged


def sparse_nn_oracle(n, layer_entries, biases, x0, threshold=None):
    """sparse_nn_single_inference.hpp:131-171: layers[0..L-2] applied
    with biases[1..L-1]; relu (+clamp) between layers and at the end."""
    L = len(layer_entries)
    mats = []
    for entries in layer_entries:
        W = np.zeros((n, n))
        for s, d, w in entries:
            W[s, d] = w
        mats.append(W)
    out = np.asarray(x0, dtype=float) @ mats[0] + biases[1]
    for i in range(1, L - 1):
        out = np.maximum(out, 0.0)
        if threshold is not None:
            out = np.minimum(out, threshold)
        out = out @ mats[i] + biases[i + 1]
    out = np.maximum(out, 0.0)
    if threshold is not None:
        out = np.minimum(out, threshold)
    return out


def conjugate_gradient_complex(n, entries, b, tol=1e-5, max_iterations=1000):
    """Complex CG (conjugate_gradient.hpp:159-426 with the is_complex
    conjugations): Hermitian dots via np.vdot (conjugates first arg)."""
    A = np.zeros((n, n), dtype=complex)
    for s, d, re, im in entries:
        A[s, d] = complex(re, im)
    b = np.asarray(b, dtype=complex)
    x = np.zeros(n, dtype=complex)
    r = b.copy()
    u = r.copy()
    sigma = np.vdot(r, r)
    bnorm = abs(sigma)
    eff_tol = tol * np.sqrt(bnorm)
    residual = abs(sigma)
    iters = 0
    converged = np.sqrt(residual) < eff_tol
    while not converged and iters < max_iterations:
        iters += 1
        t = A @ u
        denom = np.vdot(u, t)
        alpha = sigma / denom
        x = x + alpha * u
        r = r - alpha * t
        beta = np.vdot(r, r)
        residual = abs(beta)
        if np.sqrt(residual) < eff_tol:
            converged = True
            break
        if iters >= max_iterations:
            break
        u = r + (beta / sigma) * u
        sigma = beta
    return x, iters, np.sqrt(residual), converged


def hpcg_system_oracle(sizes, halo=1, diag=26.0, non_diag=-1.0):
    """Dense stencil matrix per matrix_generator_iterator semantics:
    clamped box neighborhood, dim 0 fastest."""
    import itertools as _it

    dims = len(sizes)
    n = int(np.prod(sizes))
    strides = [1] * dims
    for d in range(1, dims):
        strides[d] = strides[d - 1] * sizes[d - 1]

    def coords(i):
        return [(i // strides[d]) % sizes[d] for d in range(dims)]

    A = np.zeros((n, n))
    for i in range(n):
        c = coords(i)
        ranges = [
            range(max(0, c[d] - halo), min(sizes[d] - 1, c[d] + halo) + 1)
            for d in range(dims)
        ]
        for nb in _it.product(*ranges):
            j = sum(nb[d] * strides[d] for d in range(dims))
            A[i, j] = diag if j == i else non_diag
    return A


def hpcg_oracle(
    sizes,
    b,
    halo=1,
    diag=26.0,
    non_diag=-1.0,
    num_colors=3,
    max_levels=1,
    min_phys_size=4,
    coarsening_step=2,
    with_preconditioning=True,
    pre=1,
    post=1,
    max_iterations=56,
    tolerance=0.0,
):
    """NumPy transliteration of the reference HPCG stack (hpcg.hpp +
    multigrid_v_cycle.hpp + red_black_gauss_seidel.hpp)."""
    levels = []
    cur = tuple(sizes)
    levels.append((hpcg_system_oracle(cur, halo, diag, non_diag), cur))
    lvl = 0
    while min(cur) // coarsening_step >= min_phys_size and lvl < max_levels:
        nxt = tuple(s // coarsening_step for s in cur)
        levels.append((hpcg_system_oracle(nxt, halo, diag, non_diag), nxt))
        cur = nxt
        lvl += 1

    def coarse_fid(coarse_sizes, fine_sizes):
        dims = len(coarse_sizes)
        cstr = [1] * dims
        fstr = [1] * dims
        for d in range(1, dims):
            cstr[d] = cstr[d - 1] * coarse_sizes[d - 1]
            fstr[d] = fstr[d - 1] * fine_sizes[d - 1]
        steps = [f // c for c, f in zip(coarse_sizes, fine_sizes)]
        nc = int(np.prod(coarse_sizes))
        fid = np.zeros(nc, dtype=np.int64)
        for ci in range(nc):
            c = [(ci // cstr[d]) % coarse_sizes[d] for d in range(dims)]
            fid[ci] = sum(c[d] * steps[d] * fstr[d] for d in range(dims))
        return fid

    def smoother_round(A, x, r):
        n = len(x)
        for c in list(range(num_colors)) + list(range(num_colors - 1, -1, -1)):
            mask = (np.arange(n) % num_colors) == c
            t = A[mask] @ x
            x = x.copy()
            x[mask] = (r[mask] - t + x[mask] * diag) / diag
        return x

    def mg(li, r):
        A, sz = levels[li]
        z = np.zeros(len(r))
        if li == len(levels) - 1:
            return smoother_round(A, z, r)
        for _ in range(pre):
            z = smoother_round(A, z, r)
        fid = coarse_fid(levels[li + 1][1], sz)
        rc = (r - A @ z)[fid]
        zc = mg(li + 1, rc)
        z = z.copy()
        z[fid] += zc
        for _ in range(post):
            z = smoother_round(A, z, r)
        return z

    A = levels[0][0]
    b = np.asarray(b, dtype=float)
    x = np.zeros(len(b))
    r = b - A @ x
    norm = float(np.sqrt(r @ r))
    norm0 = norm
    it = 0
    r_dot_z, p = 0.0, None
    while True:
        z = mg(0, r) if with_preconditioning else r.copy()
        if it == 0:
            p = z
            r_dot_z = float(r @ z)
        else:
            old = r_dot_z
            r_dot_z = float(r @ z)
            p = (r_dot_z / old) * p + z
        Ap = A @ p
        alpha = r_dot_z / float(Ap @ p)
        x = x + alpha * p
        r = r - alpha * Ap
        norm = float(np.sqrt(r @ r))
        it += 1
        rel = norm / norm0 if norm0 != 0.0 else float("nan")
        if not (it < max_iterations and rel > tolerance):
            break
    return x, it, norm


def sssp_oracle(n, entries, source):
    """Bellman-Ford min-plus fixpoint: returns (dist array with np.inf
    for unreachable, rounds-to-fixpoint-detection)."""
    INF = float("inf")
    dist = np.full(n, INF)
    dist[source] = 0.0
    rounds = 0
    while True:
        nd = dist.copy()
        for s, d, w in entries:
            if dist[s] + w < nd[d]:
                nd[d] = dist[s] + w
        rounds += 1
        if np.array_equal(nd, dist):
            break
        dist = nd
    return dist, rounds
