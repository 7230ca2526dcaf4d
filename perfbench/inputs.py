"""Seeded benchmark inputs.

Every input is derived from the workload seed alone, so the same seed
gives byte-identical inputs and a different seed gives different ones.
The programs under test only ever see the generated directories.

- Frames (``ingest_label_write``): a TPC-H-shaped ``part``/``lineitem``
  pair (one frame per order, one 3D box per line item, boxes derived from
  the integer columns exactly as ``sources.star_frames`` derives them),
  written as unified per-image JSON records. Every 7th part's noun is
  replaced by ``object_<N>`` so the codebook stage has instances to label.
  The part/noun vocabularies are seeded permutations.
- Documents (``curation_text``): a token corpus over a seeded permutation
  of the content vocabulary, with planted near-duplicates and exact
  duplicates so MinHash/LSH and URL dedup have work to find.

``oracle_tables`` returns what the DuckDB oracle must see after the
codebook stage: relabeled part names and the line items whose boxes the
labeled-only snapshot keeps.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ADJECTIVES = (
    "red", "small", "hot", "cold", "old", "new", "large", "blue",
    "green", "tiny", "dark", "bright",
)
NOUNS = (
    "gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod",
    "valve", "spring", "clamp", "hinge",
)
CONTENT_WORDS = (
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "agg", "key", "query", "scan", "batch", "index", "page", "cache",
    "shard", "block", "frame",
)
STOP_WORDS = ("the", "a", "of", "and", "to", "in")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

PLANT_EVERY = 7  # every 7th part carries an unlabeled object_<N> noun
MIN_CONFIDENCE = 0.01  # enrich.build_codebook's default acceptance floor


def _rng(seed: int, stream: str) -> np.random.Generator:
    salt = int(hashlib.md5(stream.encode()).hexdigest()[:8], 16)
    return np.random.default_rng([seed, salt])


def star_tables(seed: int, n_orders: int, n_parts: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(part, lineitem) with the columns ``sources.star_frames`` reads.
    Line numbers are 1..n within an order, 1-7 lines per order."""
    rng = _rng(seed, "star")
    adjs = rng.permutation(ADJECTIVES)[:8]
    nouns = rng.permutation(NOUNS)[:8]
    keys = np.arange(n_parts, dtype=np.int64)
    names = [
        f"{adjs[a]} {nouns[b]}"
        for a, b in zip(rng.integers(0, 8, n_parts), rng.integers(0, 8, n_parts))
    ]
    planted = keys % PLANT_EVERY == seed % PLANT_EVERY
    inst = (keys * 37 + seed) % 1000
    names = [
        f"{n.split(' ')[0]} object_{i}" if p else n
        for n, p, i in zip(names, planted, inst)
    ]
    part = pd.DataFrame(
        {
            "p_partkey": keys,
            "p_name": names,
            "p_size": rng.integers(1, 51, n_parts).astype(np.int32),
        }
    )
    n_lines = rng.integers(1, 8, n_orders)
    order_keys = np.repeat(np.arange(n_orders, dtype=np.int64), n_lines)
    line_no = np.concatenate([np.arange(1, n + 1) for n in n_lines]).astype(np.int32)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": order_keys,
            "l_partkey": rng.integers(0, n_parts, len(order_keys)).astype(np.int64),
            "l_suppkey": rng.integers(0, 1000, len(order_keys)).astype(np.int64),
            "l_linenumber": line_no,
        }
    )
    return part, lineitem


def _box(li, p_size: int, category: str) -> dict:
    # the float arithmetic of sources.star_frames.synthetic_frames, so the
    # JSON round trip lands on the same doubles the oracle re-derives
    k, s, ln = int(li.l_partkey), int(li.l_suppkey), int(li.l_linenumber)
    return {
        "x": ((k % 21) - 10) * 0.3,
        "y": ((s % 13) - 6) * 0.2,
        "z": float(ln) * 1.0 + 0.5,
        "xl": p_size * 0.01 + 0.05,
        "yl": ((k % 5) + 1) * 0.1,
        "zl": ((k % 3) + 1) * 0.05,
        "pitch": 0.0,
        "yaw": float(k % 8) * 0.25 - 1.0,
        "roll": 0.0,
        "category": category,
    }


_IDENT4 = [[1.0 if i == j else 0.0 for j in range(4)] for i in range(4)]


def write_frame_records(part: pd.DataFrame, lineitem: pd.DataFrame, out_dir: str, n_files: int = 8) -> None:
    """Unified per-image JSON records (the FRAME schema), one per line,
    spread over ``n_files`` files."""
    os.makedirs(out_dir, exist_ok=True)
    size = dict(zip(part.p_partkey, part.p_size))
    cat = dict(zip(part.p_partkey, part.p_name.str.split(" ").str[1]))
    files = [open(os.path.join(out_dir, f"records-{i:03d}.json"), "w") for i in range(n_files)]
    try:
        li = lineitem.sort_values(["l_orderkey", "l_linenumber"])
        for okey, grp in li.groupby("l_orderkey", sort=True):
            okey = int(okey)
            rec = {
                "dataset": "synthetic",
                "split": "train",
                "image_id": f"ord_{okey}",
                "filename": f"ord_{okey}.jpg",
                "rgb_path": f"rgb/ord_{okey}.jpg",
                "depth_type": "none",
                "camera": {
                    "fx": 500.0, "fy": 500.0, "cx": 320.0, "cy": 240.0,
                    "image_width": 640, "image_height": 480,
                    "extrinsics": _IDENT4 if okey % 2 == 0 else None,
                },
                "bounding_boxes_3d": [
                    _box(r, int(size[r.l_partkey]), cat[r.l_partkey])
                    for r in grp.itertuples(index=False)
                ],
            }
            files[okey % n_files].write(json.dumps(rec) + "\n")
    finally:
        for f in files:
            f.close()


def stub_label(instance_id: int, vocab: tuple[str, ...]) -> tuple[str, float]:
    """Independent re-derivation of enrich.stub_classifier's verdict."""
    h = int(hashlib.md5(str(instance_id).encode()).hexdigest()[:8], 16)
    return vocab[h % len(vocab)], (h % 1000) / 1000.0


def oracle_tables(
    part: pd.DataFrame, lineitem: pd.DataFrame, vocab: tuple[str, ...]
) -> tuple[pd.DataFrame, pd.DataFrame, dict[str, int]]:
    """(part, lineitem, counts) as the labeled-only snapshot implies them:
    accepted ``object_N`` nouns become ``pseudo_<label>``; boxes whose
    instance the classifier rejects are dropped with their line items."""
    noun = part.p_name.str.split(" ").str[1]
    planted = noun.str.startswith("object_")
    new_names = part.p_name.copy()
    rejected = set()
    for idx in part.index[planted]:
        label, conf = stub_label(int(noun[idx].split("_")[1]), vocab)
        if conf >= MIN_CONFIDENCE:
            new_names[idx] = f"{part.p_name[idx].split(' ')[0]} pseudo_{label}"
        else:
            rejected.add(int(part.p_partkey[idx]))
    o_part = part.assign(p_name=new_names)
    o_part = o_part[~o_part.p_partkey.isin(rejected)]
    o_li = lineitem[~lineitem.l_partkey.isin(rejected)]
    used = lineitem.l_partkey.isin(part.p_partkey[planted])
    counts = {
        "frames": int(lineitem.l_orderkey.nunique()),
        "boxes": int(len(lineitem)),
        "unlabeled_boxes": int(used.sum()),
    }
    return o_part, o_li, counts


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """(doc_id, text, lang, source, n_chars). ~6% of documents are an
    earlier document plus one token (near-duplicates), ~1% exact copies."""
    rng = _rng(seed, "documents")
    content = list(rng.permutation(CONTENT_WORDS)[:28])
    vocab = np.array(content + list(STOP_WORDS))
    p = np.full(len(vocab), 1.0)
    p[len(content):] = 3.0  # stop words are frequent
    p /= p.sum()
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i >= 20 and u < 0.06:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " " + str(vocab[int(rng.integers(0, len(vocab)))]))
        elif i >= 20 and u < 0.07:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(vocab, n, p=p)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{int(v)}" for v in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
