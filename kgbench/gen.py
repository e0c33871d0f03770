"""Seeded input generators for the kgbench workloads.

Everything the engine sees is produced here from the workload seed, so
the same seed always gives the same tables and the same request and
document sequences. Sizes follow the sf0.1 dataset shape: 2,000
embeddings of 64 dimensions in 10 label clusters, and 5,000 short
documents over a 31-word vocabulary.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CONCEPTS = 2000
DIM = 64
N_LABELS = 10
N_DOCS = 5000
BATCH_DOCS = 125
READ_ROUNDS = 3  # reader rounds after each ingest commit
CLIENTS = 2
ROUNDS = 60  # mix cycles per client; far more than one run consumes

REL_TYPES = ["SUPPORTS", "CONTRADICTS", "VALIDATES", "REFUTES", "CONFIRMS",
             "DISPROVES", "REINFORCES", "OPPOSES", "ENABLES", "PREVENTS"]

# 12 fixed rel-type filters: ten 3-type windows plus the two polarity
# halves. One more than the accelerator cache holds, with the unfiltered
# view on top, so filtered traversals keep evicting each other.
REL_SUBSETS = [[REL_TYPES[i], REL_TYPES[(i + 1) % 10], REL_TYPES[(i + 4) % 10]]
               for i in range(10)] + [REL_TYPES[0::2], REL_TYPES[1::2]]

# The serve mix: op -> share out of 20 (30% search, 20% related, ...).
SERVE_MIX = {"search": 6, "related": 4, "related_filtered": 2, "find_path": 2,
             "find_paths": 1, "concept_details": 3, "fuse_query": 2}


def mix_cycle(mix=SERVE_MIX):
    """One cycle of the mix in smooth weighted round-robin order, so every
    stretch of consecutive requests is close to the nominal shares. The
    order is fixed; the seed chooses each request's arguments."""
    total = sum(mix.values())
    credit = dict.fromkeys(mix, 0)
    out = []
    for _ in range(total):
        for op, w in mix.items():
            credit[op] += w
        op = max(mix, key=lambda o: credit[o])
        credit[op] -= total
        out.append(op)
    return out


WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def _rng(seed, stream):
    """Independent generator per input stream, so adding a stream never
    shifts the values of another."""
    return np.random.default_rng([seed, stream])


def embeddings(seed):
    """(vec_id, label, embedding): unit vectors around 10 label centroids."""
    r = _rng(seed, 1)
    centroids = r.standard_normal((N_LABELS, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = r.integers(0, N_LABELS, N_CONCEPTS)
    vecs = centroids[labels] + 0.12 * r.standard_normal((N_CONCEPTS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return np.arange(N_CONCEPTS), labels.astype(np.int32), vecs.astype(np.float32)


def _vec(v):
    return ",".join("%.9g" % x for x in v)


def _noisy(r, v, scale):
    w = v.astype(np.float64) + scale * r.standard_normal(v.shape[0]) / np.sqrt(v.shape[0])
    return w / np.linalg.norm(w)


def _request(r, op, labels, vecs):
    n = len(labels)

    def concept():
        return "c%d" % r.integers(0, n)

    if op == "search":
        return [op, _vec(_noisy(r, vecs[r.integers(0, n)], 0.5))]
    if op == "related":
        return [op, concept()]
    if op == "related_filtered":
        return [op, concept(), str(r.integers(0, len(REL_SUBSETS)))]
    if op in ("find_path", "find_paths"):
        # both ends in one label cluster: the k-NN edges stay inside the
        # clusters, so a pair from two clusters has no path
        a = r.integers(0, n)
        same = np.flatnonzero((labels == labels[a]) & (np.arange(n) != a))
        return [op, "c%d" % a, "c%d" % same[r.integers(0, len(same))]]
    if op == "concept_details":
        return [op, concept()]
    if op == "fuse_query":
        a = r.integers(0, n)
        others = np.flatnonzero(labels != labels[a])
        b = others[r.integers(0, len(others))]
        return [op, _vec(_noisy(r, vecs[a], 0.3)), _vec(_noisy(r, vecs[a], 0.3)),
                _vec(_noisy(r, vecs[b], 0.3))]
    raise ValueError(op)


def serve_requests(seed, labels, vecs):
    """Per-client request lists plus a warm-up list with every op once.
    Client c starts c/CLIENTS of the way into the mix cycle, so the two
    clients together stay close to the mix at every moment."""
    cycle = mix_cycle()
    clients = []
    for c in range(CLIENTS):
        r = _rng(seed, 10 + c)
        shift = c * len(cycle) // CLIENTS
        ops = (cycle[shift:] + cycle[:shift]) * ROUNDS
        clients.append([_request(r, op, labels, vecs) for op in ops])
    r = _rng(seed, 9)
    warmup = [_request(r, op, labels, vecs) for op in SERVE_MIX]
    return warmup, clients


def documents(seed, n=N_DOCS, prefix=""):
    """(doc_id, text) rows: 10-100 words drawn from the sf0.1 vocabulary."""
    r = _rng(seed, 2 if not prefix else 3)
    lengths = r.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), k)]) for k in lengths]
    return ["%s%d" % (prefix, i) for i in range(n)], texts


def ingest_plan(seed):
    """Seeded document order cut into 125-document batches, a warm-up
    batch with its own ids, and one 8-d query vector per read round:
    READ_ROUNDS per batch, then READ_ROUNDS for the warm-up."""
    ids, texts = documents(seed)
    order = _rng(seed, 4).permutation(len(ids))
    batches = [[(ids[i], texts[i]) for i in order[s:s + BATCH_DOCS]]
               for s in range(0, len(order), BATCH_DOCS)]
    wid, wtext = documents(seed, BATCH_DOCS, prefix="w")
    warm = list(zip(wid, wtext))
    r = _rng(seed, 5)
    q = r.standard_normal(((len(batches) + 1) * READ_ROUNDS, 8))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return warm, batches, q


def _write_docs(path, rows):
    pq.write_table(pa.table({"doc_id": [d for d, _ in rows],
                             "text": [t for _, t in rows]}), path)


def write_inputs(workload, seed, out):
    """Write one workload's inputs under `out`; returns the input text
    sizes the ingest metrics need."""
    os.makedirs(out, exist_ok=True)
    manifest = {}
    if workload == "serve":
        vid, labels, vecs = embeddings(seed)
        pq.write_table(pa.table({
            "vec_id": pa.array(vid, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())}),
            os.path.join(out, "embeddings.parquet"))
        warmup, clients = serve_requests(seed, labels, vecs)
        with open(os.path.join(out, "warmup.tsv"), "w") as f:
            f.writelines("\t".join(x) + "\n" for x in warmup)
        for c, seq in enumerate(clients):
            with open(os.path.join(out, "client%d.tsv" % c), "w") as f:
                f.writelines("\t".join(x) + "\n" for x in seq)
        with open(os.path.join(out, "rel_subsets.tsv"), "w") as f:
            f.writelines(",".join(s) + "\n" for s in REL_SUBSETS)
    elif workload == "ingest":
        warm, batches, q = ingest_plan(seed)
        bdir = os.path.join(out, "batches")
        os.makedirs(bdir)
        _write_docs(os.path.join(bdir, "warmup.parquet"), warm)
        for i, b in enumerate(batches):
            _write_docs(os.path.join(bdir, "b%04d.parquet" % i), b)
        with open(os.path.join(out, "reads.tsv"), "w") as f:
            f.writelines(_vec(v) + "\n" for v in q)
        manifest["warmup_text_bytes"] = sum(len(t.encode()) for _, t in warm)
        manifest["batch_text_bytes"] = [sum(len(t.encode()) for _, t in b)
                                        for b in batches]
    else:
        raise ValueError("unknown workload %r" % workload)
    return manifest
