"""Oracles for kgbench results, computed outside the engine.

The serve oracle recomputes every request over the knowledge graph's
stored tables (2,000 concept embeddings and the 10,000 k-NN edges) with
numpy and plain BFS, and compares the engine's answers to it. Scores are
compared within a small tolerance; ties may be broken either way.
"""

from collections import deque

import numpy as np
import pyarrow.parquet as pq

TOL = 1e-6


class ServeOracle:
    def __init__(self, kg_dir, rel_subsets):
        c = pq.read_table(kg_dir + "/concepts.parquet").to_pydict()
        self.ids = c["concept_id"]
        self.labels = dict(zip(c["concept_id"], c["label"]))
        emb = np.array(c["embedding"], dtype=np.float64)
        self.unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        e = pq.read_table(kg_dir + "/edges.parquet").to_pydict()
        self.edges = list(zip(e["src"], e["dst"], e["rel_type"]))
        self.rel_subsets = rel_subsets

    def _adjacency(self, types=None, removed=frozenset()):
        adj = {}
        for s, d, t in self.edges:
            if types is not None and t not in types:
                continue
            if (s, d) in removed or (d, s) in removed:
                continue
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
        return adj

    @staticmethod
    def _bfs(adj, src, max_depth):
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            if dist[u] == max_depth:
                continue
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    def _cos(self, vec):
        v = np.array([float(x) for x in vec.split(",")])
        return self.unit @ (v / np.linalg.norm(v))

    def _topk(self, scores, k, got, digits=None):
        """Check a top-k answer [[id, score], ...] ordered by score desc,
        id asc, against `scores` (id -> true score of every eligible id)."""
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        want = ranked[:k]
        if len(got) != len(want):
            return "expected %d rows, got %d" % (len(want), len(got))

        def rnd(x):
            return x if digits is None else round(x, digits)

        for (gid, gs), (_, ws) in zip(got, want):
            if gid not in scores:
                return "%s is not eligible" % gid
            if abs(gs - rnd(scores[gid])) > TOL or abs(gs - rnd(ws)) > TOL:
                return "score of %s: got %r, expected %r" % (gid, gs, rnd(ws))
        if want:
            floor = want[-1][1] + TOL
            must = {i for i, s in ranked if s > floor}
            missing = must - {g for g, _ in got}
            if missing:
                return "missing %s" % sorted(missing)[:3]
        return None

    def check(self, req, result):
        """None when `result` answers `req` correctly, else a reason."""
        op = req[0]
        if op == "search":
            sims = self._cos(req[1])
            return self._topk(dict(zip(self.ids, sims)), 10, result)
        if op in ("related", "related_filtered"):
            types = None if op == "related" else set(self.rel_subsets[int(req[2])])
            dist = self._bfs(self._adjacency(types), req[1], 2)
            want = {n: d for n, d in dist.items() if d > 0}
            got = {n: d for n, d in result}
            if len(got) != len(result) or got != want:
                return "neighbourhood differs: %d rows vs %d expected" % (len(result), len(want))
            return None
        if op == "find_path":
            return self._paths(req[1], req[2], result, 1)
        if op == "find_paths":
            return self._paths(req[1], req[2], result, 3)
        if op == "concept_details":
            c = req[1]
            if len(result) != 1:
                return "expected one card, got %d" % len(result)
            r = result[0]
            out_e = [d for s, d, _ in self.edges if s == c]
            want = {"concept_id": c, "label": self.labels[c],
                    "out_degree": len(out_e),
                    "in_degree": sum(1 for _, d, _ in self.edges if d == c),
                    "n_documents": len(set(out_e)), "evidence_count": len(out_e)}
            bad = {k: (r.get(k), v) for k, v in want.items() if r.get(k) != v}
            missing = {"grounding_strength", "confidence_score", "confidence_level"} - set(r)
            if bad or missing:
                return "card differs: %s %s" % (bad, sorted(missing))
            return None
        if op == "fuse_query":
            a, b, x = self._cos(req[1]), self._cos(req[2]), self._cos(req[3])
            ok = (a >= 0.5) & (b >= 0.5) & (x < 0.5)
            sims = np.minimum(a, b)
            scores = {self.ids[i]: float(sims[i]) for i in np.flatnonzero(ok)}
            return self._topk(scores, 10, result, digits=6)
        return "unknown op %s" % op

    def _paths(self, src, dst, result, k):
        """Edge-exclusion k-shortest paths: path i must be a shortest path
        (at most 6 hops) once the edges of paths before it are removed,
        and a short answer means no further path exists."""
        removed = set()
        for i in range(k):
            adj = self._adjacency(removed=frozenset(removed))
            dist = self._bfs(adj, src, 6)
            if i >= len(result):
                if dst in dist and src != dst:
                    return "path %d missing: %d hops exist" % (i, dist[dst])
                return None
            hops, path = result[i]
            if dst not in dist:
                return "path %d returned but none exists" % i
            if hops != dist[dst] or len(path) != hops + 1 or path[0] != src or path[-1] != dst:
                return "path %d: %d hops %r, shortest is %d" % (i, hops, path, dist[dst])
            if any(b not in adj.get(a, ()) for a, b in zip(path, path[1:])):
                return "path %d uses a missing edge" % i
            removed.update(zip(path, path[1:]))
        return None if len(result) <= k else "more than %d paths" % k


def check_ingest_read(rec):
    """Sanity of one reader round on a fresh snapshot."""
    hits = rec["hits"]
    sims = [s for _, s in hits]
    if rec["concepts"] <= 0 or not 0 < len(hits) <= 10:
        return "empty snapshot or bad hit count"
    if any(x < y - TOL for x, y in zip(sims, sims[1:])):
        return "hits not ordered by similarity"
    if any(d not in (1, 2) for d in rec["related_distances"]):
        return "related distance outside 1..2"
    return None
