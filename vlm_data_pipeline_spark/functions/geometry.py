"""3D/2D box geometry as native Column expressions (SURVEY §2.9 F3-F6).

Behavioral parity targets (semantics, not code — the reference computes these
row-at-a-time with numpy):

- oriented vertices from 9-DoF box, R = Rz(roll)·Ry(yaw)·Rx(pitch)
  (QA_generation/utils/geometry.py:26-95). NOTE the reference quirk: stored
  angles are *normalized* (deg/180 ∈ [-1,1], data_processing/utils.py:28-43)
  but fed to sin/cos as radians unchanged — we reproduce exactly that.
- min vertex-pair distance between boxes (geometry.py:98-118)
- camera distance: ||center|| — camera at origin in camera space
  (geometry.py:401-421); vertex-min variant (geometry.py:165-189)
- max dimension (geometry.py:121-132)
- strict interval relations at 0.1 m (geometry.py:222-269) and
  center-diff relations (geometry.py:424-495)
- multi-encoding 2D bbox normalization (geometry.py:272-335)
- angle normalization to [-1, 1] (data_processing/utils.py:28-43)

Everything here is whole-stage-codegen'd: no UDF, no shuffle — per-row math
that scales linearly to any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import let

THRESHOLD_M = 0.1  # spatial-relation separation threshold (meters)


# ---------------------------------------------------------------------------
# Scalar box properties
# ---------------------------------------------------------------------------


def max_dimension(box: Column) -> Column:
    """Largest of the three box dimensions, meters."""
    return F.greatest(box["xl"], box["yl"], box["zl"])


def center_distance(box: Column) -> Column:
    """Distance camera→box center; boxes are camera-space, camera at origin."""
    return F.sqrt(box["x"] ** 2 + box["y"] ** 2 + box["z"] ** 2)


def normalize_angle_deg(deg: Column) -> Column:
    """Degrees → [-1, 1] (value/180 after wrapping to (-180, 180]).

    Matches the reference exactly (data_processing/utils.py:28-43: Python
    ``% 360`` then subtract-if->180), including the boundary: ±180° → +1.0,
    not −1.0. Spark's ``%`` follows the dividend's sign, so emulate the
    Python modulo first.
    """
    pymod = ((deg % 360) + 360) % 360  # [0, 360)
    wrapped = F.when(pymod > 180, pymod - 360).otherwise(pymod)
    return wrapped / 180.0


# ---------------------------------------------------------------------------
# Oriented vertices
# ---------------------------------------------------------------------------

_CORNER_SIGNS = [
    (-1, -1, -1),
    (1, -1, -1),
    (1, 1, -1),
    (-1, 1, -1),
    (-1, -1, 1),
    (1, -1, 1),
    (1, 1, 1),
    (-1, 1, 1),
]


def box_vertices(box: Column) -> Column:
    """8 oriented corners as array<array<double>> (8×3).

    R = Rz(roll)·Ry(yaw)·Rx(pitch) applied to the ±half-dim corner lattice,
    then translated by the center — nine closed-form rotation entries as
    cos/sin column expressions, fully unrolled for codegen.
    """
    p, yw, r = box["pitch"], box["yaw"], box["roll"]
    cp, sp = F.cos(p), F.sin(p)
    cy, sy = F.cos(yw), F.sin(yw)
    cr, sr = F.cos(r), F.sin(r)

    # R = Rz(roll) @ Ry(yaw) @ Rx(pitch)
    r00 = cr * cy
    r01 = cr * sy * sp - sr * cp
    r02 = cr * sy * cp + sr * sp
    r10 = sr * cy
    r11 = sr * sy * sp + cr * cp
    r12 = sr * sy * cp - cr * sp
    r20 = -sy
    r21 = cy * sp
    r22 = cy * cp

    hx, hy, hz = box["xl"] / 2, box["yl"] / 2, box["zl"] / 2
    verts = []
    for sx, sy_, sz in _CORNER_SIGNS:
        lx, ly, lz = sx * hx, sy_ * hy, sz * hz
        verts.append(
            F.array(
                box["x"] + r00 * lx + r01 * ly + r02 * lz,
                box["y"] + r10 * lx + r11 * ly + r12 * lz,
                box["z"] + r20 * lx + r21 * ly + r22 * lz,
            )
        )
    return F.array(*verts)


def box_vertices_flat_hof(box: Column) -> Column:
    """:func:`box_vertices` for use INSIDE higher-order-function lambdas
    (``transform(boxes, b -> ...)``), emitting a FLAT ``array<double>``
    of 24 (x0,y0,z0,x1,y1,z1,...) instead of the nested 8×3 shape.

    It feeds the per-box vertex payload of the obj_obj pair stage
    (``qa.tasks3d._slim_verts_payload``), and differs from the row-space
    unroll in two ways:

    - the 6 trig values and 9 rotation entries are let-bound (lambda
      variables evaluate ONCE at binding). HOF lambdas run interpreted
      with no codegen CSE, so the flat unroll would re-evaluate ~290
      SIN/COS per box here;
    - one array header + one primitive buffer per box instead of nine
      array objects, and a layout the Arrow pair kernel reshapes to
      (n, 8, 3) without a per-vertex list.

    The i-th vertex's coordinates are the IDENTICAL doubles
    ``box_vertices(box)[i][0..2]``: the same multiplies/adds in the same
    association, only factored through lambda variables (pinned in
    test_box_vertices_flat_hof_bit_parity). That is what lets
    :func:`min_vertex_distance` over :func:`box_vertices` serve as the
    bit-exact reference for the pair kernel.

    Keep using :func:`box_vertices` in ROW space (projections, the
    cam_obj_rel_dist per-box transform), where whole-stage codegen CSEs
    the duplicates natively; there the extra nested HOF layers of a
    let-bound form cost more than the repeated trig.
    """
    p, yw, r = box["pitch"], box["yaw"], box["roll"]

    def with_trig(t: Column) -> Column:
        cp, sp = t[0], t[1]
        cy, sy = t[2], t[3]
        cr, sr = t[4], t[5]
        # R = Rz(roll) @ Ry(yaw) @ Rx(pitch) — entries in row-major order
        rot = [
            cr * cy, cr * sy * sp - sr * cp, cr * sy * cp + sr * sp,
            sr * cy, sr * sy * sp + cr * cp, sr * sy * cp - cr * sp,
            -sy, cy * sp, cy * cp,
        ]

        def with_rot(R: Column) -> Column:
            hx, hy, hz = box["xl"] / 2, box["yl"] / 2, box["zl"] / 2
            coords = []
            for sx, sy_, sz in _CORNER_SIGNS:
                lx, ly, lz = sx * hx, sy_ * hy, sz * hz
                coords += [
                    box["x"] + R[0] * lx + R[1] * ly + R[2] * lz,
                    box["y"] + R[3] * lx + R[4] * ly + R[5] * lz,
                    box["z"] + R[6] * lx + R[7] * ly + R[8] * lz,
                ]
            return F.array(*coords)

        return let(F.array(*rot), with_rot)

    return let(
        F.array(F.cos(p), F.sin(p), F.cos(yw), F.sin(yw), F.cos(r), F.sin(r)),
        with_trig,
    )


# ---------------------------------------------------------------------------
# Distances
# ---------------------------------------------------------------------------


def _pair_sqdist(v1: Column, v2: Column) -> Column:
    dx, dy, dz = v1[0] - v2[0], v1[1] - v2[1], v1[2] - v2[2]
    return dx * dx + dy * dy + dz * dz


def min_vertex_distance(verts_a: Column, verts_b: Column) -> Column:
    """Min Euclidean distance over the 8×8 vertex pairs of two boxes
    (reference geometry.py:98-118).

    The Column reference for the obj_obj pair-distance kernel
    (``qa.tasks3d._box_pair_distances``): the same 64
    ``dx*dx + dy*dy + dz*dz`` terms in the same association, an exact
    min, one final sqrt, so the two agree bit for bit on the same
    vertex doubles. Runs as a fold over SQUARED distances with a scalar
    accumulator. ``verts_b`` is let-bound so its producing expression
    evaluates once, not once per vertex of ``verts_a``.

    NULLs: NULL ``verts_a`` gives NULL; NULL ``verts_b`` alone gives
    Infinity (the inner aggregate is NULL and ``least`` skips it,
    leaving the +inf seed); a NULL term inside a vertex is skipped by
    ``least``."""
    inf = F.lit(float("inf"))
    return let(
        verts_b,
        lambda vb: F.sqrt(
            F.aggregate(
                verts_a,
                inf,
                lambda acc, v1: F.least(
                    acc,
                    F.aggregate(
                        vb,
                        inf,
                        lambda acc2, v2: F.least(acc2, _pair_sqdist(v1, v2)),
                    ),
                ),
            )
        ),
    )


def min_camera_vertex_distance(verts: Column) -> Column:
    """Min distance from the camera (origin) to any vertex."""
    return F.array_min(
        F.transform(
            verts, lambda v: F.sqrt(v[0] ** 2 + v[1] ** 2 + v[2] ** 2)
        )
    )


# ---------------------------------------------------------------------------
# Relative position
# ---------------------------------------------------------------------------


def center_diff_relations(box_a: Column, box_b: Column) -> Column:
    """Center-difference spatial relations of A w.r.t. B in camera frame
    (+X right, +Y down, +Z forward), 0.1 m dead zone.

    Returns struct(depth_rel, horizontal_rel, vertical_rel,
    depth_diff, horizontal_diff, vertical_diff, center_distance).
    """
    dz = box_a["z"] - box_b["z"]
    dx = box_a["x"] - box_b["x"]
    dy = box_a["y"] - box_b["y"]
    t = F.lit(THRESHOLD_M)
    depth = (
        F.when(F.abs(dz) < t, "Same depth").when(dz < 0, "Nearer").otherwise("Farther")
    )
    horiz = (
        F.when(F.abs(dx) < t, "Same horizontal position")
        .when(dx < 0, "Left")
        .otherwise("Right")
    )
    vert = (
        F.when(F.abs(dy) < t, "Same vertical position")
        .when(dy < 0, "Above")
        .otherwise("Below")
    )
    return F.struct(
        depth.alias("depth_rel"),
        horiz.alias("horizontal_rel"),
        vert.alias("vertical_rel"),
        dz.alias("depth_diff"),
        dx.alias("horizontal_diff"),
        dy.alias("vertical_diff"),
        F.sqrt(dx**2 + dy**2 + dz**2).alias("center_distance"),
    )


def strict_interval_relations(verts_a: Column, verts_b: Column) -> Column:
    """Strict relations: A is Left of B only if A's whole x-interval lies
    more than 0.1 m below B's, etc. Null when intervals overlap.

    Returns struct(depth_rel, horizontal_rel, vertical_rel), each nullable.
    Both vertex arrays are let-bound (each is referenced once per axis).
    """

    def mk(va: Column, vb: Column) -> Column:
        def axis(i: int) -> tuple[Column, Column, Column, Column]:
            a_vals = F.transform(va, lambda v: v[i])
            b_vals = F.transform(vb, lambda v: v[i])
            return (
                F.array_min(a_vals),
                F.array_max(a_vals),
                F.array_min(b_vals),
                F.array_max(b_vals),
            )

        t = F.lit(THRESHOLD_M)
        ax_min, ax_max, bx_min, bx_max = axis(0)
        ay_min, ay_max, by_min, by_max = axis(1)
        az_min, az_max, bz_min, bz_max = axis(2)
        depth = (
            F.when(az_max < bz_min - t, "Near")
            .when(az_min > bz_max + t, "Far")
            .otherwise(F.lit(None).cast("string"))
        )
        horiz = (
            F.when(ax_max < bx_min - t, "Left")
            .when(ax_min > bx_max + t, "Right")
            .otherwise(F.lit(None).cast("string"))
        )
        vert = (
            F.when(ay_max < by_min - t, "Up")
            .when(ay_min > by_max + t, "Down")
            .otherwise(F.lit(None).cast("string"))
        )
        return F.struct(
            depth.alias("depth_rel"),
            horiz.alias("horizontal_rel"),
            vert.alias("vertical_rel"),
        )

    return let(verts_a, lambda va: let(verts_b, lambda vb: mk(va, vb)))


# ---------------------------------------------------------------------------
# P9: 3D→2D corner projection (build_label_codebook_fast.py:238-280)
# ---------------------------------------------------------------------------


def project_box_to_2d(
    box: Column,
    intrinsics: Column,
    image_width: Column,
    image_height: Column,
    z_min: float = 0.1,
) -> Column:
    """Project a camera-space 3D box to a clipped 2D pixel rect (P9).

    Reference semantics (build_label_codebook_fast.py:238-280,
    ``project_3d_to_2d``): the 8 AXIS-ALIGNED corners center±dims/2 (the
    reference ignores orientation here), keep only corners with z > 0.1,
    project through the 3×3 intrinsics, min/max the pixel coords, truncate
    toward zero, clamp to the image, and return NULL when no corner is in
    front of the camera or the clipped rect is degenerate. This predicate
    gates every crop the codebook pipeline classifies.

    Pure column math — array_filter/transform over an 8-element literal
    array, fully codegen'd, no UDF, linear scale.
    """
    hx, hy, hz = box["xl"] / 2, box["yl"] / 2, box["zl"] / 2
    corners = F.array(
        *[
            F.array(box["x"] + sx * hx, box["y"] + sy * hy, box["z"] + sz * hz)
            for sx, sy, sz in _CORNER_SIGNS
        ]
    )
    k = intrinsics

    def mk(valid: Column) -> Column:
        def proj(axis: int):
            return F.transform(
                valid,
                lambda c: (
                    (k[axis][0] * c[0] + k[axis][1] * c[1] + k[axis][2] * c[2])
                    / (k[2][0] * c[0] + k[2][1] * c[1] + k[2][2] * c[2])
                ),
            )

        us, vs = proj(0), proj(1)
        x_min = F.greatest(F.lit(0), F.array_min(us).cast("int"))
        y_min = F.greatest(F.lit(0), F.array_min(vs).cast("int"))
        x_max = F.least(image_width.cast("int"), F.array_max(us).cast("int"))
        y_max = F.least(image_height.cast("int"), F.array_max(vs).cast("int"))
        return F.when(
            (F.size(valid) > 0) & (x_max > x_min) & (y_max > y_min),
            F.struct(
                x_min.alias("x_min"),
                y_min.alias("y_min"),
                x_max.alias("x_max"),
                y_max.alias("y_max"),
            ),
        )

    return let(F.filter(corners, lambda c: c[2] > F.lit(z_min)), mk)


# ---------------------------------------------------------------------------
# Camera helpers
# ---------------------------------------------------------------------------


def camera_position(extrinsics: Column) -> Column:
    """Camera position = translation column of a 4×4 camera-to-world matrix;
    null-safe (COCO frames carry no extrinsics)."""
    return F.when(
        extrinsics.isNotNull() & (F.size(extrinsics) == 4),
        F.array(extrinsics[0][3], extrinsics[1][3], extrinsics[2][3]),
    )


# ---------------------------------------------------------------------------
# F3: angle conversions (utils.py:13-43, hypersim_processor.py:166-184)
# ---------------------------------------------------------------------------


def quaternion_to_euler_deg(w: Column, x: Column, y: Column, z: Column) -> Column:
    """Quaternion (w,x,y,z) → intrinsic-xyz Euler angles in DEGREES, as
    struct(pitch, yaw, roll) — the closed form of the reference's
    scipy ``Rotation.as_euler('xyz')`` call (utils.py:13-27), with the
    standard gimbal guard (|sin(yaw)| clamped to 1). Pure column math.
    """
    deg = 180.0 / 3.141592653589793
    # xyz-intrinsic: pitch = atan2(2(wx+yz), 1-2(x²+y²)),
    #                yaw   = asin(clamp(2(wy−zx)))
    #                roll  = atan2(2(wz+xy), 1-2(y²+z²))
    sinp = 2.0 * (w * y - z * x)
    return F.struct(
        (F.atan2(2.0 * (w * x + y * z), 1.0 - 2.0 * (x * x + y * y)) * deg).alias(
            "pitch"
        ),
        (F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), sinp))) * deg).alias(
            "yaw"
        ),
        (F.atan2(2.0 * (w * z + x * y), 1.0 - 2.0 * (y * y + z * z)) * deg).alias(
            "roll"
        ),
    )


def rotmat_to_euler_zyx_deg(m: Column) -> Column:
    """3×3 rotation matrix (array<array<double>>) → ZYX Euler degrees with
    the reference's gimbal-lock guard (hypersim_processor.py:166-184):
    when |m[2][0]| ≥ 1−1e−6, pitch collapses into roll.
    Returns struct(pitch, yaw, roll)."""
    deg = 180.0 / 3.141592653589793
    sy = -m[2][0]
    locked = F.abs(m[2][0]) >= 1.0 - 1e-6
    yaw = F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), sy))) * deg
    pitch = F.when(locked, F.lit(0.0)).otherwise(F.atan2(m[2][1], m[2][2]) * deg)
    roll = F.when(locked, F.atan2(-m[0][1], m[1][1]) * deg).otherwise(
        F.atan2(m[1][0], m[0][0]) * deg
    )
    return F.struct(pitch.alias("pitch"), yaw.alias("yaw"), roll.alias("roll"))


# ---------------------------------------------------------------------------
# F4: rigid-transform linear algebra (utils.py:194-221,
#     hypersim_processor.py:292-321, objectron_processor.py:168-191)
# ---------------------------------------------------------------------------


def invert_rigid(m: Column) -> Column:
    """Closed-form inverse of a 4×4 RIGID transform [R|t; 0 1]:
    inverse = [Rᵀ | −Rᵀt; 0 1]. No Gaussian elimination, no UDF — nine
    transposed entries and three dot products, all codegen-able. (The
    reference calls np.linalg.inv on these matrices; rigid structure makes
    the closed form exact and ~10× cheaper.)"""

    def mk(mm: Column) -> Column:
        r = [[mm[i][j] for j in range(3)] for i in range(3)]
        t = [mm[i][3] for i in range(3)]
        neg = [
            -(r[0][i] * t[0] + r[1][i] * t[1] + r[2][i] * t[2]) for i in range(3)
        ]
        rows = [
            F.array(r[0][i], r[1][i], r[2][i], neg[i]) for i in range(3)
        ]
        rows.append(F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(1.0)))
        return F.array(*rows)

    return let(m, mk)


def transform_point(m: Column, p: Column) -> Column:
    """Apply a 4×4 transform to a 3-vector (homogeneous w=1) → 3-vector.
    The world↔camera point transform (utils.py:199-208) as column math."""

    def mk(mm: Column, pp: Column) -> Column:
        return F.array(
            *[
                mm[i][0] * pp[0] + mm[i][1] * pp[1] + mm[i][2] * pp[2] + mm[i][3]
                for i in range(3)
            ]
        )

    return let(m, lambda mm: let(p, lambda pp: mk(mm, pp)))


def scale_box(box: Column, factor: Column) -> Column:
    """Unit scaling (mm→m, asset-units→m, m→cm): centers AND dimensions
    multiply; angles are scale-invariant (sunrgbd_processor.py:199-200,
    hypersim_processor.py:292-321)."""
    return box.withField("x", box["x"] * factor).withField(
        "y", box["y"] * factor
    ).withField("z", box["z"] * factor).withField(
        "xl", box["xl"] * factor
    ).withField("yl", box["yl"] * factor).withField("zl", box["zl"] * factor)


def uses_extrinsics(camera: Column) -> Column:
    return camera["extrinsics"].isNotNull()


# ---------------------------------------------------------------------------
# 2D boxes (multi-encoding normalization)
# ---------------------------------------------------------------------------


def bbox2d_xywh(box: Column) -> Column:
    """Canonical (x, y, w, h) from the corner-encoded 2D box struct."""
    return F.struct(
        box["x_min"].cast("double").alias("x"),
        box["y_min"].cast("double").alias("y"),
        (box["x_max"] - box["x_min"]).cast("double").alias("w"),
        (box["y_max"] - box["y_min"]).cast("double").alias("h"),
    )


def bbox2d_area(box: Column) -> Column:
    """Area: explicit area field when present, else w×h."""
    computed = ((box["x_max"] - box["x_min"]) * (box["y_max"] - box["y_min"])).cast(
        "double"
    )
    return F.coalesce(box["area"].cast("double"), computed)


def bbox2d_center(box: Column) -> Column:
    return F.struct(
        ((box["x_min"] + box["x_max"]) / 2.0).alias("cx"),
        ((box["y_min"] + box["y_max"]) / 2.0).alias("cy"),
    )
