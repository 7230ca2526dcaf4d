"""Geometry column library vs. independent numpy computation of the same
published formulas (R = Rz·Ry·Rx oriented corners, 8×8 vertex-min distance,
interval relations) on analytic fixtures."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vlm_data_pipeline_spark.functions import geometry as G


def np_vertices(x, y, z, xl, yl, zl, pitch, yaw, roll):
    cp, sp = np.cos(pitch), np.sin(pitch)
    cy, sy = np.cos(yaw), np.sin(yaw)
    cr, sr = np.cos(roll), np.sin(roll)
    rx = np.array([[1, 0, 0], [0, cp, -sp], [0, sp, cp]])
    ry = np.array([[cy, 0, sy], [0, 1, 0], [-sy, 0, cy]])
    rz = np.array([[cr, -sr, 0], [sr, cr, 0], [0, 0, 1]])
    r = rz @ ry @ rx
    h = np.array([xl, yl, zl]) / 2
    corners = np.array(
        [
            [-1, -1, -1], [1, -1, -1], [1, 1, -1], [-1, 1, -1],
            [-1, -1, 1], [1, -1, 1], [1, 1, 1], [-1, 1, 1],
        ]
    ) * h
    return (r @ corners.T).T + np.array([x, y, z])


BOXES = [
    (0.0, 0.0, 2.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0),
    (1.5, -0.5, 3.0, 2.0, 0.5, 1.0, 0.3, -0.7, 1.1),
    (-2.0, 1.0, 5.0, 0.2, 0.4, 0.8, -1.0, 0.25, 0.5),
]


@pytest.fixture(scope="module")
def box_df(spark):
    rows = [
        {
            "i": i,
            "box": dict(
                zip(
                    ["x", "y", "z", "xl", "yl", "zl", "pitch", "yaw", "roll"], b
                )
            )
            | {"category": "c", "label_id": None, "object_id": None,
               "confidence": None, "method": None},
        }
        for i, b in enumerate(BOXES)
    ]
    from vlm_data_pipeline_spark.schemas import BBOX_3D
    import pyspark.sql.types as T

    schema = T.StructType(
        [T.StructField("i", T.IntegerType()), T.StructField("box", BBOX_3D)]
    )
    return spark.createDataFrame(rows, schema)


def test_box_vertices_match_numpy(box_df):
    got = (
        box_df.select("i", G.box_vertices(F.col("box")).alias("v"))
        .orderBy("i")
        .collect()
    )
    for row in got:
        expected = np_vertices(*BOXES[row.i])
        actual = np.array(row.v)
        assert np.allclose(actual, expected, atol=1e-12), row.i


def test_box_vertices_flat_hof_bit_parity(spark):
    """box_vertices_flat_hof (the let-bound flat-24 form the obj_obj
    pair stage computes inside a transform lambda) must equal the box_vertices
    unroll BIT-FOR-BIT after flattening: the same multiplies and adds in
    the same association on the same doubles, only factored through
    lambda variables so an interpreted evaluation computes each trig
    value once instead of per coordinate. Both are evaluated INSIDE a
    transform lambda here — the interpreted context the variant
    targets."""
    rng = np.random.default_rng(1234)
    rows = [
        {
            "i": i,
            "b": dict(zip(
                ["x", "y", "z", "xl", "yl", "zl", "pitch", "yaw", "roll"],
                [
                    float(rng.uniform(-5, 5)), float(rng.uniform(-5, 5)),
                    float(rng.uniform(0.5, 8)), float(rng.uniform(0.1, 3)),
                    float(rng.uniform(0.1, 3)), float(rng.uniform(0.1, 3)),
                    float(rng.uniform(-1.5, 1.5)), float(rng.uniform(-3.1, 3.1)),
                    float(rng.uniform(-1.5, 1.5)),
                ],
            )) | {"category": "c", "label_id": None, "object_id": None,
                  "confidence": None, "method": None},
        }
        for i in range(300)
    ]
    from pyspark.sql import types as T

    from vlm_data_pipeline_spark.schemas import BBOX_3D

    schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("b", BBOX_3D),
    ])
    df = spark.createDataFrame(rows, schema)

    def in_hof(fn):
        return F.element_at(
            F.transform(F.array(F.col("b")), lambda bx: fn(bx)), 1
        )

    out = df.select(
        "i",
        in_hof(G.box_vertices).alias("flat"),
        in_hof(G.box_vertices_flat_hof).alias("flat24"),
    ).collect()
    assert len(out) == 300
    for r in out:
        # flat24 = the same 24 doubles, row-major flattened (the
        # Arrow pair kernel's per-box payload layout)
        flattened = [c for v in r.flat for c in v]
        assert flattened == r.flat24, r.i


def test_min_vertex_distance_analytic(box_df):
    """Two axis-aligned unit cubes 3 m apart on x → nearest faces 2 m."""
    a = box_df.filter("i = 0").select(F.col("box").alias("ba"))
    row = a.select(
        G.min_vertex_distance(
            G.box_vertices(F.col("ba")),
            G.box_vertices(
                F.named_struct(
                    F.lit("x"), F.lit(3.0), F.lit("y"), F.lit(0.0),
                    F.lit("z"), F.lit(2.0), F.lit("xl"), F.lit(1.0),
                    F.lit("yl"), F.lit(1.0), F.lit("zl"), F.lit(1.0),
                    F.lit("pitch"), F.lit(0.0), F.lit("yaw"), F.lit(0.0),
                    F.lit("roll"), F.lit(0.0),
                )
            ),
        ).alias("d")
    ).first()
    assert abs(row.d - 2.0) < 1e-12


def test_center_distance_and_max_dim(box_df):
    rows = (
        box_df.select(
            "i",
            G.center_distance(F.col("box")).alias("d"),
            G.max_dimension(F.col("box")).alias("m"),
        )
        .orderBy("i")
        .collect()
    )
    for r in rows:
        x, y, z, xl, yl, zl, *_ = BOXES[r.i]
        assert abs(r.d - math.sqrt(x * x + y * y + z * z)) < 1e-12
        assert abs(r.m - max(xl, yl, zl)) < 1e-12


def test_min_camera_vertex_distance(box_df):
    rows = (
        box_df.select(
            "i",
            G.min_camera_vertex_distance(G.box_vertices(F.col("box"))).alias("d"),
        )
        .orderBy("i")
        .collect()
    )
    for r in rows:
        verts = np_vertices(*BOXES[r.i])
        assert abs(r.d - np.linalg.norm(verts, axis=1).min()) < 1e-12


def test_normalize_angle(spark):
    """Parity with the reference normalize_angle (data_processing/utils.py:
    28-43): Python %360, subtract if >180, /180 — including the ±180°
    boundary, which must map to +1.0 (not −1.0)."""

    def ref_normalize(deg: float) -> float:
        a = deg % 360
        if a > 180:
            a -= 360
        return a / 180.0

    degs = [-540.0, -360.0, -180.0, -90.0, -0.5, 0.0, 0.5, 90.0, 179.9,
            180.0, 180.1, 270.0, 360.0, 540.0, 723.0, -723.0]
    df = spark.createDataFrame([(d,) for d in degs], "deg double")
    rows = df.select("deg", G.normalize_angle_deg(F.col("deg")).alias("n")).collect()
    for r in rows:
        assert abs(r.n - ref_normalize(r.deg)) < 1e-12, (r.deg, r.n)
    # the boundary explicitly
    got = dict((r.deg, r.n) for r in rows)
    assert got[180.0] == 1.0
    assert got[-180.0] == 1.0


def _np_project(box, K, w, h, z_min=0.1):
    """Reference project_3d_to_2d (build_label_codebook_fast.py:238-280)."""
    cx, cy, cz, xl, yl, zl = box
    center = np.array([cx, cy, cz])
    dims = np.array([xl, yl, zl])
    signs = [(sx, sy, sz) for sx in (1, -1) for sy in (1, -1) for sz in (1, -1)]
    corners = np.array([center + np.array(s) * dims / 2 for s in signs])
    valid = corners[:, 2] > z_min
    if not valid.any():
        return None
    c = corners[valid]
    homo = (np.array(K) @ c.T).T
    uv = homo[:, :2] / homo[:, 2:3]
    x_min, y_min = uv.min(axis=0)
    x_max, y_max = uv.max(axis=0)
    x_min = max(0, int(x_min)); y_min = max(0, int(y_min))
    x_max = min(w, int(x_max)); y_max = min(h, int(y_max))
    if x_max <= x_min or y_max <= y_min:
        return None
    return (x_min, y_min, x_max, y_max)


def test_project_box_to_2d(spark):
    """P9 vs a numpy transliteration of the reference: fully visible,
    behind-camera (null), straddling the near plane, off-image (degenerate
    null), and partially clipped boxes."""
    import pyspark.sql.types as T
    from vlm_data_pipeline_spark.schemas import BBOX_3D

    K = [[500.0, 0.0, 320.0], [0.0, 480.0, 240.0], [0.0, 0.0, 1.0]]
    boxes = [
        (0.0, 0.0, 4.0, 1.0, 1.0, 1.0),      # fully visible
        (0.0, 0.0, -5.0, 1.0, 1.0, 1.0),     # entirely behind camera
        (0.2, -0.1, 0.3, 1.0, 1.0, 1.0),     # straddles the near plane
        (50.0, 0.0, 2.0, 1.0, 1.0, 1.0),     # projects right of the image
        (-3.0, -2.0, 3.0, 4.0, 4.0, 2.0),    # clipped at the left/top edge
        (0.0, 0.0, 0.05, 1.0, 1.0, 0.01),    # all corners z <= 0.1
    ]
    schema = T.StructType([T.StructField("b", BBOX_3D)])
    from tests.fixtures import box3

    df = spark.createDataFrame(
        [{"b": box3(x, y, z, xl=xl, yl=yl, zl=zl)} for x, y, z, xl, yl, zl in boxes],
        schema,
    )
    intr = F.array(*[F.array(*[F.lit(v) for v in row]) for row in K])
    rows = (
        df.select(
            "b",
            G.project_box_to_2d(F.col("b"), intr, F.lit(640), F.lit(480)).alias("r"),
        )
        .collect()
    )
    for row, box in zip(rows, boxes):
        want = _np_project(box, K, 640, 480)
        got = None if row.r is None else (row.r.x_min, row.r.y_min, row.r.x_max, row.r.y_max)
        assert got == want, (box, got, want)
    # make sure the fixture actually exercises both branches
    assert any(r.r is None for r in rows) and any(r.r is not None for r in rows)


def test_strict_relations(spark):
    """Unit cube at x=0 vs unit cube at x=3: A strictly Left of B; depth
    overlap → null depth relation."""
    from tests.fixtures import box3
    from vlm_data_pipeline_spark.schemas import BBOX_3D
    import pyspark.sql.types as T

    schema = T.StructType(
        [T.StructField("a", BBOX_3D), T.StructField("b", BBOX_3D)]
    )
    df = spark.createDataFrame(
        [{"a": box3(0.0, 0.0, 2.0), "b": box3(3.0, 0.0, 2.0)}], schema
    )
    r = df.select(
        G.strict_interval_relations(
            G.box_vertices(F.col("a")), G.box_vertices(F.col("b"))
        ).alias("rel")
    ).first()
    assert r.rel.horizontal_rel == "Left"
    assert r.rel.depth_rel is None
    assert r.rel.vertical_rel is None


def test_min_vertex_distance_null_propagation(spark):
    """The fold's NULL contract, which the Arrow pair kernel's NULL
    handling is read against: NULL va -> NULL; NULL vb alone -> inf
    (``least`` skips the inner NULL aggregate, leaving the +inf seed);
    both NULL -> NULL."""
    df = spark.createDataFrame(
        [
            (0, [[0.0, 0.0, 0.0]] * 8, [[1.0, 0.0, 0.0]] * 8),
            (1, None, [[1.0, 0.0, 0.0]] * 8),
            (2, [[0.0, 0.0, 0.0]] * 8, None),
            (3, None, None),
        ],
        "i INT, va ARRAY<ARRAY<DOUBLE>>, vb ARRAY<ARRAY<DOUBLE>>",
    )
    out = (
        df.select(
            "i", G.min_vertex_distance(F.col("va"), F.col("vb")).alias("d")
        )
        .orderBy("i")
        .collect()
    )
    assert out[0].d == 1.0
    assert out[1].d is None, out[1]
    assert out[2].d == float("inf"), out[2]
    assert out[3].d is None, out[3]
