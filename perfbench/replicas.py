"""Small pure-Python replicas that the graph_loops outputs are checked
against. Each follows the operator's documented contract, not its plan."""

from __future__ import annotations

from collections import defaultdict, deque


def article_rank(edges: list[tuple[str, str]], damping: float = 0.85,
                 iterations: int = 20) -> dict[str, float]:
    """ArticleRank as ``rank.article_rank`` defines it: every vertex of
    the edge set starts at 1.0; a source passes rank / (out-degree +
    mean out-degree) along each distinct edge; dangling mass is dropped."""
    e = sorted(set(edges))
    verts = {v for pair in e for v in pair}
    out_deg: dict[str, int] = defaultdict(int)
    for s, _ in e:
        out_deg[s] += 1
    avg = sum(out_deg.values()) / len(out_deg) if out_deg else 0.0
    inv = {s: 1.0 / (d + avg) for s, d in out_deg.items()}
    rank = dict.fromkeys(verts, 1.0)
    for _ in range(iterations):
        incoming: dict[str, float] = defaultdict(float)
        for s, d in e:
            incoming[d] += rank[s] * inv[s]
        rank = {v: (1.0 - damping) + damping * incoming.get(v, 0.0) for v in verts}
    return rank


def components(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find connected components; label = minimum id."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def bfs(edges: list[tuple[str, str]], sources: list[str], max_hops: int = 6) -> dict[str, int]:
    adj: dict[str, list[str]] = defaultdict(list)
    for s, d in set(edges):
        adj[s].append(d)
    dist = dict.fromkeys(sources, 0)
    q = deque(sources)
    while q:
        v = q.popleft()
        if dist[v] == max_hops:
            continue
        for w in adj[v]:
            if w not in dist:
                dist[w] = dist[v] + 1
                q.append(w)
    return dist


def bellman_ford(edges: list[tuple[str, str, float]], sources: list[str],
                 max_rounds: int = 8) -> dict[str, float]:
    """Cheapest cost over paths of at most ``max_rounds`` edges."""
    w: dict[tuple[str, str], float] = {}
    for s, d, x in edges:
        w[(s, d)] = min(x, w.get((s, d), x))
    best = dict.fromkeys(sources, 0.0)
    frontier = dict(best)
    for _ in range(max_rounds):
        cand: dict[str, float] = {}
        for (s, d), x in w.items():
            if s in frontier:
                c = frontier[s] + x
                if c < cand.get(d, float("inf")):
                    cand[d] = c
        frontier = {v: c for v, c in cand.items() if c < best.get(v, float("inf"))}
        best.update(frontier)
    return best


def scc(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Tarjan's strongly connected components (iterative); label =
    minimum id of the component."""
    adj: dict[str, list[str]] = defaultdict(list)
    verts: set[str] = set()
    for s, d in set(edges):
        adj[s].append(d)
        verts.update((s, d))
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set[str] = set()
    stack: list[str] = []
    label: dict[str, str] = {}
    counter = 0
    for root in sorted(verts):
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, i = work.pop()
            if i == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack.add(v)
            nbrs = adj[v]
            if i < len(nbrs):
                work.append((v, i + 1))
                w = nbrs[i]
                if w not in index:
                    work.append((w, 0))
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    label[w] = m
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    return label


def label_propagation(edges: list[tuple[str, str]], iterations: int = 4) -> dict[str, str]:
    """Synchronous LPA on the undirected simple graph: each round a
    vertex takes its neighbours' most frequent label, ties to the
    smallest label."""
    nbrs: dict[str, set[str]] = defaultdict(set)
    for a, b in edges:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    lbl = {v: v for v in nbrs}
    for _ in range(iterations):
        new = {}
        for v, ns in nbrs.items():
            counts: dict[str, int] = defaultdict(int)
            for u in ns:
                counts[lbl[u]] += 1
            new[v] = min(counts, key=lambda x: (-counts[x], x))
        lbl = new
    return lbl
