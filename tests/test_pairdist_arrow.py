"""The obj_obj pair-distance kernel (`_box_pair_distances`, a per-frame
Arrow kernel) must be VALUE-IDENTICAL to the Column reference
`geometry.min_vertex_distance` over `box_vertices` on the `_box_pairs`
pairs — exact doubles, not approximate. The Arrow kernel consumes the
identical JVM-computed vertex doubles (trig never moves to Python), so
parity is bit-exact by construction; these tests pin it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vlm_data_pipeline_spark.functions import geometry as G
from vlm_data_pipeline_spark.qa.tasks3d import (
    _box_pair_distances,
    _box_pairs,
)
from vlm_data_pipeline_spark.schemas import BBOX_3D, CAMERA

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("dataset", T.StringType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("scene_id", T.StringType()),
        T.StructField("frame_id", T.StringType()),
        T.StructField("camera", CAMERA),
        T.StructField("bounding_boxes_3d", T.ArrayType(BBOX_3D)),
    ]
)


def _rand_box(rng, category="c"):
    geom = dict(
        zip(
            ["x", "y", "z", "xl", "yl", "zl", "pitch", "yaw", "roll"],
            [
                float(rng.uniform(-5, 5)),
                float(rng.uniform(-5, 5)),
                float(rng.uniform(0.5, 8)),
                float(rng.uniform(0.1, 3)),
                float(rng.uniform(0.1, 3)),
                float(rng.uniform(0.1, 3)),
                float(rng.uniform(-1.5, 1.5)),
                float(rng.uniform(-3.1, 3.1)),
                float(rng.uniform(-1.5, 1.5)),
            ],
        )
    )
    return geom | {
        "category": category,
        "label_id": None,
        "object_id": None,
        "confidence": None,
        "method": None,
    }


def _frames(spark, rng, counts):
    rows = []
    for i, n in enumerate(counts):
        rows.append(
            {
                "dataset": "t",
                "image_id": f"img_{i}",
                "scene_id": f"s{i}" if i % 3 else None,
                "frame_id": f"f{i}" if i % 2 else None,
                "camera": None,
                "bounding_boxes_3d": (
                    None
                    if n is None
                    else [_rand_box(rng, f"cat{j % 4}") for j in range(n)]
                ),
            }
        )
    return spark.createDataFrame(rows, FRAME_SCHEMA)


def _old_path(frames, max_boxes=None):
    pairs = _box_pairs(frames, max_boxes=max_boxes)
    return pairs.select(
        "dataset",
        "image_id",
        "scene_id",
        "frame_id",
        "pos_a",
        "pos_b",
        F.col("box_a.category").alias("cat_a"),
        F.col("box_b.category").alias("cat_b"),
        G.min_vertex_distance(
            G.box_vertices(F.col("box_a")), G.box_vertices(F.col("box_b"))
        ).alias("dist_m"),
    )


def _rowset(df):
    return sorted(
        (
            r.dataset,
            r.image_id,
            r.scene_id,
            r.frame_id,
            r.pos_a,
            r.pos_b,
            r.cat_a,
            r.cat_b,
            r.dist_m,
        )
        for r in df.collect()
    )


def test_pairdist_arrow_bit_parity(spark):
    """Mixed frame sizes (0, 1, 2, 3, 7, 23 boxes, one NULL array): the
    Arrow kernel's rows equal the row-space fold's rows EXACTLY — same
    pairs, same categories, bit-equal distances."""
    rng = np.random.default_rng(4242)
    frames = _frames(spark, rng, [0, 1, 2, 3, 7, 23, None, 5, 2])
    old = _rowset(_old_path(frames))
    new = _rowset(_box_pair_distances(frames))
    assert len(old) == (1 + 3 + 21 + 253 + 10 + 1)
    assert new == old


def test_pairdist_arrow_bit_parity_capped(spark):
    """max_boxes engages the volume cap before pairing — both paths must
    keep the identical survivor set and original positions."""
    rng = np.random.default_rng(777)
    frames = _frames(spark, rng, [6, 2, 9])
    old = _rowset(_old_path(frames, max_boxes=4))
    new = _rowset(_box_pair_distances(frames, max_boxes=4))
    assert len(old) == (6 + 1 + 6)
    assert new == old


def test_pairdist_arrow_null_verts_vanish_in_task(spark):
    """A box with a NULL angle nulls all its vertices: the Arrow kernel
    gives NULL (not NaN) dist_m for both pairs touching it, as the fold
    does, and the band predicate drops them from obj_obj_distance."""
    from vlm_data_pipeline_spark.qa import tasks3d

    rng = np.random.default_rng(5)
    good_a, good_b = _rand_box(rng, "a"), _rand_box(rng, "b")
    # keep the good pair inside the 0.2-20 m band deterministically
    good_a.update(x=0.0, y=0.0, z=2.0)
    good_b.update(x=3.0, y=0.0, z=2.0)
    bad = _rand_box(rng, "broken") | {"pitch": None}
    rows = [
        {
            "dataset": "t",
            "image_id": "img_0",
            "scene_id": "s",
            "frame_id": "f",
            "camera": None,
            "bounding_boxes_3d": [good_a, bad, good_b],
        }
    ]
    frames = spark.createDataFrame(rows, FRAME_SCHEMA)

    broken = (
        _box_pair_distances(frames)
        .filter("cat_a = 'broken' OR cat_b = 'broken'")
        .select("pos_a", "pos_b", F.col("dist_m").isNull().alias("is_null"))
        .orderBy("pos_a", "pos_b")
        .collect()
    )
    assert [(r.pos_a, r.pos_b, r.is_null) for r in broken] == [
        (0, 1, True),
        (1, 2, True),
    ]

    out = sorted(
        (r.id, r.question, r.answer, r.answer_type)
        for r in tasks3d.obj_obj_distance(frames).collect()
    )
    # exactly the one valid pair survives
    assert len(out) == 1
    assert "the a and the b" in out[0][1]


def test_pairdist_arrow_partial_null_term_skip():
    """np.fmin.reduce skips NaN terms exactly as least() skips NULLs:
    with one vertex poisoned, the min comes from the remaining finite
    terms in both formulations."""
    rng = np.random.default_rng(11)
    va = rng.uniform(-2, 2, (8, 3))
    vb = rng.uniform(3, 6, (8, 3))
    d = va[:, None, :] - vb[None, :, :]
    sq = (d * d).sum(axis=2)
    expect = float(np.sqrt(sq.min()))
    va_bad = va.copy()
    va_bad[sq.min(axis=1).argmin(), :] = np.nan
    d2 = va_bad[:, None, :] - vb[None, :, :]
    sq2 = (d2 * d2).sum(axis=2).reshape(1, 64)
    got = float(np.sqrt(np.fmin.reduce(sq2, axis=1))[0])
    finite = sq.copy()
    finite[sq.min(axis=1).argmin(), :] = np.inf
    assert got == float(np.sqrt(finite.min()))
    assert got >= expect
