"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed
writes byte-identical files (``digest`` proves it). Nothing is
downloaded; images are rendered with the engine's own fixture renderer
and encoded by its own baseline-JPEG encoder.

Usage (standalone):
    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np

# ------------------------------------------------------------ images
# Corpus shape follows the reference build: one frame per stem, one
# YOLO box per stem, ~2% stems with a second box (2,472 boxes over
# 2,443 files in the reference).
N_INDEX_IMAGES = 60
N_QUERY_IMAGES = 48
MULTI_BOX_SHARE = 0.02
NOISE = 6  # ± gray levels of seeded noise on every frame
# held-out query frames use fixture ids past every index frame id
QUERY_ID_BASE = 1_000_000


def _frame(k: int, rng: np.random.Generator) -> np.ndarray:
    from oracle_vector_search_spark.functions.detect_numpy import (
        render_mri_like,
    )

    noise = rng.integers(-NOISE, NOISE + 1, size=(96, 96))
    return np.clip(render_mri_like(k).astype(np.int16) + noise, 0, 255).astype(
        np.uint8
    )


def _jpeg(k: int, rng: np.random.Generator) -> bytes:
    from oracle_vector_search_spark.functions.jpeg_numpy import (
        encode_gray_jpeg,
    )

    return encode_gray_jpeg(_frame(k, rng))


def _yolo_line(cls: int, x: int, y: int, w: int, h: int) -> str:
    """Normalized YOLO line for a pixel box on the 96×96 frame."""
    from oracle_vector_search_spark.functions.detect_numpy import MRI_H, MRI_W

    return (
        f"{cls} {(x + w / 2) / MRI_W:.6f} {(y + h / 2) / MRI_H:.6f} "
        f"{w / MRI_W:.6f} {h / MRI_H:.6f}"
    )


def _blob_lines(k: int, cls: int, second: bool) -> list[str]:
    """Label lines from the rendered blob geometry: blob A always,
    blob B (the dimmer distractor) for multi-box stems."""
    from oracle_vector_search_spark.functions.detect_numpy import mri_params

    p = mri_params(k)
    out = [_yolo_line(cls, p["xa"], p["ya"], p["wa"], p["ha"])]
    if second:
        out.append(_yolo_line((cls + 1) % 4, p["xb"], p["yb"], p["wb"], p["hb"]))
    return out


def gen_images(seed: int, out: str) -> dict:
    """Index corpus directory + label lines and held-out query uploads.
    Plants the FIXTURES.md faults:

    * F1 a non-image extension in the corpus directory (scan filter);
    * F2 an image with no label row (image⋈label semi-join);
    * F3 an undecodable ``.jpg``;
    * F4 a label that denormalizes to an empty box;
    * F5 a query upload with no detection (undecodable bytes);
    * F6 a malformed label line.

    Returns the manifest (paths, label rows, expected counts)."""
    rng = np.random.default_rng([seed, 1])
    corpus = os.path.join(out, "corpus")
    os.makedirs(corpus, exist_ok=True)
    # fixture ids: distinct, seeded, never a multiple of the renderer's
    # flat-frame modulus (flat frames carry no blob to label)
    ids = rng.choice(np.arange(1, 200_000), size=4 * N_INDEX_IMAGES, replace=False)
    index_ids = [int(k) for k in ids if k % 11][:N_INDEX_IMAGES]
    multi = set(
        rng.choice(
            index_ids, size=max(1, round(MULTI_BOX_SHARE * N_INDEX_IMAGES)),
            replace=False,
        ).tolist()
    )
    labels: list[list] = []  # (stem, box_idx, line)
    expected_boxes = 0
    for k in index_ids:
        stem = f"img{k:06d}"
        with open(os.path.join(corpus, stem + ".jpg"), "wb") as fh:
            fh.write(_jpeg(k, rng))
        for i, line in enumerate(_blob_lines(k, int(rng.integers(4)), k in multi)):
            labels.append([stem, i + 1, line])
            expected_boxes += 1
    # F4: an extra box on a valid image that floors to zero width
    f4_stem = f"img{index_ids[0]:06d}"
    labels.append([f4_stem, 9, "1 0.500000 0.500000 0.000000 0.300000"])
    # F6: a malformed label line on a valid image
    labels.append([f"img{index_ids[1]:06d}", 8, "2 0.5 oops 0.1"])
    # F1: non-image extension, labeled — must still be dropped
    with open(os.path.join(corpus, "notes.txt"), "wb") as fh:
        fh.write(b"not an image\n")
    labels.append(["notes", 1, "0 0.5 0.5 0.2 0.2"])
    # F2: a real frame with no label row
    with open(os.path.join(corpus, "img_unlabeled.jpg"), "wb") as fh:
        fh.write(_jpeg(index_ids[-1] + 7, rng))
    # F3: undecodable .jpg bytes, labeled
    with open(os.path.join(corpus, "img_corrupt.jpg"), "wb") as fh:
        fh.write(b"\xff\xd8\xff\xe0" + rng.bytes(64))
    labels.append(["img_corrupt", 1, "0 0.5 0.5 0.2 0.2"])

    queries = []
    for j in range(N_QUERY_IMAGES):
        k = QUERY_ID_BASE + int(rng.integers(10**6))
        queries.append([f"q{j:03d}", _jpeg(k, rng).hex()])
    # F5: an upload the decoder rejects → no detection → no result rows
    f5_query = ["q_nodetect", (b"\xff\xd8" + rng.bytes(32)).hex()]

    manifest = {
        "corpus_dir": corpus,
        "labels": labels,
        "expected_boxes": expected_boxes,
        "queries": queries,
        "f5_query": f5_query,
    }
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return manifest


# ----------------------------------------------------------- vectors
VEC_DIM = 64
VEC_N = 10_000
VEC_CLUSTERS = 32
VEC_Q = 12  # queries per batch (one op)
VEC_BATCHES = 4
VEC_SPREAD = 0.35  # within-cluster σ relative to unit-norm centers


def gen_vectors(seed: int, out: str) -> dict:
    """Clustered Gaussian mixture, 64-d like the ``embeddings`` fixture,
    stored at rest as Parquet (vec_id, embedding ARRAY<FLOAT>, label).
    Query vectors are fresh draws from the same mixture (held out)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    centers = rng.standard_normal((VEC_CLUSTERS, VEC_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(n):
        lab = rng.integers(VEC_CLUSTERS, size=n)
        v = centers[lab] + VEC_SPREAD / np.sqrt(VEC_DIM) * rng.standard_normal(
            (n, VEC_DIM)
        )
        return v.astype(np.float32), lab.astype(np.int32)

    vecs, lab = draw(VEC_N)
    n_q = VEC_Q * VEC_BATCHES
    qv, _ = draw(n_q)
    path = os.path.join(out, "vectors.parquet")
    qpath = os.path.join(out, "queries.parquet")
    for p, v, cols in (
        (path, vecs, {"vec_id": np.arange(VEC_N, dtype=np.int64), "label": lab}),
        (qpath, qv, {
            "vec_id": np.arange(n_q, dtype=np.int64) + 10**9,
            "batch": (np.arange(n_q) // VEC_Q).astype(np.int32),
        }),
    ):
        emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), VEC_DIM).cast(
            pa.list_(pa.float32())
        )
        pq.write_table(
            pa.table({**cols, "embedding": emb}),
            p, row_group_size=4096, compression="snappy",
        )
    manifest = {"vectors": path, "queries": qpath, "batches": VEC_BATCHES}
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return manifest


# --------------------------------------------------------- analytics
# Table shapes and value domains follow the fixture tables
# (FIXTURES.md tables 1-9) at a fifth of sf0.1.
SCALE = 0.02
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
PART_ADJ = ["large", "hot", "blue", "red", "new", "small", "old", "cold"]
PART_NOUN = ["ring", "bolt", "rod", "plate", "anvil", "gear", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _ts_us(days0: str, offsets_us: np.ndarray):
    import pyarrow as pa

    base = np.datetime64(days0, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def gen_analytics(seed: int, out: str) -> dict:
    """region … documents as one Parquet file each (the ``io.TABLES``
    layout the registry queries and their DuckDB oracles read)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * SCALE), int(10_000 * SCALE), int(200_000 * SCALE)
    n_ord, n_li = int(1_500_000 * SCALE), int(6_000_000 * SCALE)
    n_ev, n_users, n_docs = int(1_000_000 * SCALE), int(15_000 * SCALE), int(50_000 * SCALE)
    day = 86_400 * 10**6

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(25, size=n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(5, size=n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(25, size=n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(8, size=n_part), rng.integers(8, size=n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(6, size=n_part)],
        "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(n_cust, size=n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(3, size=n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(5, size=n_ord)],
    })
    li_order = np.sort(rng.integers(n_ord, size=n_li)).astype(np.int64)
    _, first = np.unique(li_order, return_index=True)
    line_no = np.arange(n_li) - np.repeat(first, np.diff(np.append(first, n_li))) + 1
    t["lineitem"] = pa.table({
        "l_orderkey": li_order,
        "l_partkey": rng.integers(n_part, size=n_li).astype(np.int64),
        "l_suppkey": rng.integers(n_supp, size=n_li).astype(np.int64),
        "l_linenumber": line_no.astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(3, size=n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(2, size=n_li)],
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2499, n_li) * day),
    })
    # event timestamps: distinct µs instants over 30 days, time-ordered ids
    ev_off = np.sort(rng.choice(30 * day, size=n_ev, replace=False))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_us("2024-01-01", ev_off),
        "user_id": rng.integers(n_users, size=n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(5, size=n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(100, size=n_ev)],
    })
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.003:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(i))])
        elif i > 10 and r < 0.05:  # near duplicate: earlier doc + marker
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(len(WORDS), size=n)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(len(LANGS), size=n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    # a small embeddings table keeps the io.TABLES layout complete
    emb = rng.standard_normal((500, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(500, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(10, size=500).astype(np.int32),
    })
    sf_dir = os.path.join(out, "sf")
    os.makedirs(sf_dir, exist_ok=True)
    for name, tb in t.items():
        pq.write_table(tb, os.path.join(sf_dir, f"{name}.parquet"), compression="snappy")
    manifest = {"sf_dir": sf_dir, "rows": {k: v.num_rows for k, v in t.items()}}
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return manifest


GENERATORS = {
    "image_search": gen_images,
    "vector_batch_search": gen_vectors,
    "analytics_mix": gen_analytics,
}


def generate(workload: str, seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out)


def digest(out: str) -> str:
    """sha256 over every generated file's relative path and bytes, with
    the output directory itself stripped (so two directories holding
    the same inputs hash equal)."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(out):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                h.update(fh.read().replace(out.encode(), b"<out>"))
    return h.hexdigest()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    wl, sd, od = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    generate(wl, sd, od)
    print(digest(od))
