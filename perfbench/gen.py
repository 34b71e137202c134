"""Seeded input generators for the perfbench workloads.

Every workload's inputs are parquet directories made only from `--seed`; the
same seed gives byte-identical files (checked through `digest`). Generated
doubles sit on a binary grid (multiples of 1/64, bounded), so sums of them
are exact in any order. For the two TDF workloads the generator also writes
`expected.json`: every booked result computed with numpy from the generated
arrays, an oracle that shares no code with Spark, compared bit for bit.
"""
import hashlib
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# files per table: enough splits for local[4] scans without tuning Spark
FILES = 8

# Rows per workload. `scale` < 1 is for the self-test only.
SIZES = {
    "tdf_book_many": {"events": 50_000},
    "tdf_scan_chain": {"events": 500_000},
    "ops_dedup_ann": {"documents": 600, "embeddings": 1_500, "queries": 100},
    "stream_fold": {"events": 4_000},
}

VOCAB = 3_000
DIM = 32
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
USERS = 400


def rng_for(workload, seed):
    return np.random.default_rng([seed, zlib.crc32(workload.encode())])


def grid(rng, lo, hi, n):
    """n values on the 1/64 grid in [lo, hi)."""
    return rng.integers(int(lo * 64), int(hi * 64), n) / 64.0


def list_array(lengths, values):
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def write(table, out_dir, name):
    d = os.path.join(out_dir, name + ".parquet")
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    step = -(-n // FILES)
    for i in range(FILES):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(d, f"part-{i:05d}.parquet"),
                           compression="snappy")


def bins(x, wt, nbins, lo, hi, sums=True):
    """The histogram kernel's fill rule: floor((x - lo) / width), last bin
    closed, under- and overflow outside [lo, hi). Flat list of its fields."""
    w = (hi - lo) / nbins
    inside = (x >= lo) & (x < hi)
    b = np.minimum(np.floor((x[inside] - lo) / w).astype(np.int64), nbins - 1)
    out = [lo, hi, *np.bincount(b, weights=wt[inside], minlength=nbins).tolist(),
           float(wt[x < lo].sum()), float(wt[x >= hi].sum()), float(wt.sum())]
    return out + ([float((x * wt).sum()), float((x * x * wt).sum())] if sums else [])


# tdf_book_many's four branches, as in perfbench/src/perfbench/Workloads.scala
BOOK_BRANCHES = [
    lambda c: [c["njet"] >= 2],
    lambda c: [c["met"] > 64.0],
    lambda c: [c["ht"] > 128.0],
    lambda c: [np.abs(c["eta"]) < 2.5, c["st"] > 100.0],
]


def tdf_book_many(rng, rows, out):
    n = rows["events"]
    njet = rng.integers(0, 8, n).astype(np.int32)
    c = {"met": grid(rng, 0, 256, n), "eta": grid(rng, -5, 5, n), "njet": njet,
         "weight": rng.integers(1, 4, n).astype(np.int32)}
    pts = grid(rng, 0, 128, int(njet.sum()))
    write(pa.table({"event": np.arange(n, dtype=np.int64), **c,
                    "jet_pt": list_array(njet, pa.array(pts))}), out, "events")
    c["ht"] = np.bincount(np.repeat(np.arange(n), njet), weights=pts, minlength=n)
    c["st"] = c["met"] + c["ht"]
    one = np.ones(n)
    expected = {}
    for i, branch in enumerate(BOOK_BRANCHES):
        cuts = branch(c)
        m = np.logical_and.reduce(cuts)
        k = f"branch {i} "
        expected.update({
            k + "count": [int(m.sum())], k + "sum(met)": [c["met"][m].sum()],
            k + "sum(ht)": [c["ht"][m].sum()], k + "mean(met)": [c["met"][m].sum() / m.sum()],
            k + "min(met)": [c["met"][m].min()], k + "max(met)": [c["met"][m].max()],
            k + "min(ht)": [c["ht"][m].min()], k + "max(st)": [c["st"][m].max()],
            k + "histo(met)": bins(c["met"][m], one[m], 64, 0.0, 256.0),
            k + "histo(ht)": bins(c["ht"][m], one[m], 64, 0.0, 1024.0),
            k + "histoW(st)": bins(c["st"][m], c["weight"][m].astype(float), 64, 0.0, 2048.0),
            k + "report": [int(v) for j in range(len(cuts)) for v in (
                np.logical_and.reduce(cuts[:j + 1]).sum(),
                np.logical_and.reduce([one > 0] + cuts[:j]).sum())],
        })
    write_expected(out, expected)


def tdf_scan_chain(rng, rows, out):
    n = rows["events"]
    mult = np.minimum(rng.poisson(3.0, n), 16).astype(np.int32)
    k = int(mult.sum())
    x, y = grid(rng, -32, 32, k), grid(rng, -32, 32, k)
    tracks = pa.StructArray.from_arrays(
        [pa.array(x), pa.array(y), pa.array(grid(rng, -32, 32, k)), pa.array(grid(rng, 0, 64, k))],
        names=["x", "y", "z", "t"])
    write(pa.table({
        "event": np.arange(n, dtype=np.int64),
        "tracks": list_array(mult, tracks),
    }), out, "events")
    sel = np.repeat(mult > 2, mult)
    pts = np.sqrt(x[sel] * x[sel] + y[sel] * y[sel])
    one = np.ones(len(pts))
    mn, mx = pts.min(), pts.max()
    write_expected(out, {
        "count": [int((mult > 2).sum())],
        "merged slot partials": [int(mult[mult > 2].sum())],
        "fixed histo": bins(pts, one, 64, 0.0, 64.0, sums=False),
        # the facade pads an auto-ranged axis so that the maximum falls inside
        "auto histo": bins(pts, one, 64, mn, mx + (mx - mn) * 1e-9, sums=False),
    })


def write_expected(out, expected):
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({k: [float(v) for v in vs] for k, vs in expected.items()}, f)


def _words(rng, n):
    # Zipf-like word ranks, so shingle frequencies are skewed as in real text
    p = 1.0 / np.arange(1, VOCAB + 1)
    return rng.choice(VOCAB, size=n, p=p / p.sum())


def ops_dedup_ann(rng, rows, out):
    """Documents with planted near-duplicates (one word substituted) and
    planted containers (a document followed by extra words), and embeddings
    with planted neighbours (queries are jittered copies of corpus rows).
    The planted id pairs are rewritten into `planted.parquet` for the check.
    """
    nd = rows["documents"]
    base = [_words(rng, int(rng.integers(40, 90))) for _ in range(nd)]
    n_plant = max(2, nd // 20)
    src = rng.choice(nd, size=2 * n_plant, replace=False)
    docs, planted = list(base), []
    for j, s in enumerate(src):
        w = base[s].copy()
        if j < n_plant:
            # near-duplicate: one substitution away from the source
            w[int(rng.integers(0, len(w)))] = VOCAB + j
            kind = "near"
        else:
            w = np.concatenate([w, _words(rng, len(w) // 5)])
            kind = "contain"
        planted.append((kind, int(s), len(docs)))
        docs.append(w)
    perm = rng.permutation(len(docs))  # doc_id of original index i is perm[i]
    text = [None] * len(docs)
    for i, w in enumerate(docs):
        text[perm[i]] = " ".join(f"w{t}" for t in w)
    write(pa.table({"doc_id": np.arange(len(docs), dtype=np.int64),
                    "text": text}), out, "documents")

    ne, nq = rows["embeddings"], rows["queries"]
    emb = rng.standard_normal((ne, DIM)).astype(np.float32)
    srcq = rng.choice(ne, size=nq, replace=False)
    q = emb[srcq] + 0.01 * rng.standard_normal((nq, DIM)).astype(np.float32)
    flat = lambda m: list_array(np.full(len(m), DIM), pa.array(m.ravel()))
    write(pa.table({"vec_id": np.arange(ne, dtype=np.int64),
                    "embedding": flat(emb)}), out, "embeddings")
    # query ids follow the corpus ids: the search drops a neighbour whose id
    # equals the query's, as a self-match
    write(pa.table({"vec_id": np.arange(ne, ne + nq, dtype=np.int64),
                    "embedding": flat(q)}), out, "queries")
    kinds = [k for k, _, _ in planted] + ["ann"] * nq
    a = [int(perm[s]) for _, s, _ in planted] + [ne + i for i in range(nq)]
    b = [int(perm[d]) for _, _, d in planted] + [int(s) for s in srcq]
    pq.write_table(pa.table({"kind": kinds, "a": a, "b": b}),
                   os.path.join(out, "planted.parquet"))


def stream_fold(rng, rows, out):
    """An `events` table with the schema `Tables.events` reads;
    timestamps fall inside 2000..2100."""
    n = rows["events"]
    lo = np.datetime64("2000-01-01T00:00:00", "us").astype(np.int64)
    hi = np.datetime64("2099-12-31T00:00:00", "us").astype(np.int64)
    write(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(rng.integers(lo, hi, n), type=pa.timestamp("us")),
        "user_id": rng.integers(0, USERS, n).astype(np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": grid(rng, 0, 100, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }), out, "events")


GENERATORS = {
    "tdf_book_many": tdf_book_many,
    "tdf_scan_chain": tdf_scan_chain,
    "ops_dedup_ann": ops_dedup_ann,
    "stream_fold": stream_fold,
}


def generate(workload, seed, out, scale=1.0):
    """Write the workload's inputs under `out`; returns the rows per table."""
    rows = {t: max(4, int(n * scale)) for t, n in SIZES[workload].items()}
    GENERATORS[workload](rng_for(workload, seed), rows, out)
    return rows


def digest(out):
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
