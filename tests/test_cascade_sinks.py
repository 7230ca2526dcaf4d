"""M4 two-stage cascade + K3 envelope sink (SURVEY §2.10/§2.2)."""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from tests.fixtures import fixture_frames
from vlm_data_pipeline_spark.enrich import two_stage_cascade
from vlm_data_pipeline_spark.qa import generate_all, write_qa_outputs


def _const_classifier(conf_by_id):
    """Deterministic classifier: per-instance confidence from a dict."""

    def classify(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "instance_id": pdf["instance_id"],
                    "label": ["chair"] * len(pdf),
                    "confidence": pdf["instance_id"].map(
                        lambda i: conf_by_id.get(int(i), 0.0)
                    ),
                    "stage": ["?"] * len(pdf),
                }
            )

    return classify


def test_two_stage_cascade(spark):
    frames = fixture_frames(spark)
    # plant exactly instances object_0..object_4, one per box round-robin
    seeded = frames.withColumn(
        "bounding_boxes_3d",
        F.transform(
            F.coalesce(F.col("bounding_boxes_3d"), F.array()),
            lambda b, i: b.withField(
                "category",
                F.format_string(
                    "object_%d", (F.crc32(F.col("image_id")) + i) % 5
                ),
            ),
        ),
    )
    from vlm_data_pipeline_spark.enrich import extract_unlabeled_instances

    present = {
        r.instance_id
        for r in extract_unlabeled_instances(seeded).select("instance_id").distinct().collect()
    }
    assert len(present) >= 3  # fixture yields several distinct instances

    # stage A accepts ≥ τ_high=0.015; failures go to B, accepted ≥ τ_mid=0.01
    stage_a = _const_classifier({0: 0.5, 1: 0.02, 2: 0.001, 3: 0.012, 4: 0.0})
    stage_b = _const_classifier({2: 0.011, 3: 0.5, 4: 0.002})
    expected = {0: "A", 1: "A", 2: "B", 3: "B", 4: None}  # 4: below both τ

    out = two_stage_cascade(seeded, stage_a, stage_b).collect()
    by_id = {r.instance_id: r for r in out}
    for i in present:
        if expected[i] is None:
            assert i not in by_id
        else:
            assert by_id[i].stage == expected[i], f"instance {i}"
    assert set(by_id) <= present


def test_write_qa_outputs_envelope(spark, tmp_path):
    frames = fixture_frames(spark)
    all_qa = generate_all(frames, tasks=["object_count", "object_3d_size"])
    out = str(tmp_path / "qa")
    write_qa_outputs(all_qa, out, dataset="fixture")

    # pairs partitioned by task → per-task pruning
    assert (tmp_path / "qa" / "pairs" / "task=object_count").exists()
    back = spark.read.json(f"{out}/pairs")
    assert back.count() == all_qa.count()

    env_files = list((tmp_path / "qa" / "envelopes").glob("*.json"))
    assert env_files
    envs = [
        json.loads(line)
        for f in env_files
        for line in Path(f).read_text().splitlines()
        if line.strip()
    ]
    by_task = {e["task_type"]: e for e in envs}
    assert by_task["object_count"]["dataset"] == "fixture"
    assert by_task["object_count"]["total_questions"] > 0
    assert "generated_date" in by_task["object_3d_size"]
    on_disk = {r.task: r["count"] for r in back.groupBy("task").count().collect()}
    assert {t: e["total_questions"] for t, e in by_task.items()} == on_disk


def test_write_qa_outputs_empty_union(spark, tmp_path):
    """Frames with no boxes give an empty union: no task=<t> directory is
    written, and the sink still succeeds with zero envelopes."""
    frames = fixture_frames(spark)
    for col in ("bounding_boxes_3d", "bounding_boxes_2d"):
        frames = frames.withColumn(col, F.filter(col, lambda b: F.lit(False)))
    out = str(tmp_path / "qa")
    write_qa_outputs(generate_all(frames), out, dataset="fixture")

    assert not list((tmp_path / "qa" / "pairs").glob("task=*"))
    assert (tmp_path / "qa" / "envelopes").is_dir()
    envs = [
        line
        for f in (tmp_path / "qa" / "envelopes").glob("*.json")
        for line in Path(f).read_text().splitlines()
        if line.strip()
    ]
    assert envs == []


def _hier_classifier(table):
    """Injected hierarchical stage: instance_id → (grp, grp_margin, pred,
    margin) from a dict; unknown ids get a confident furniture/chair."""

    def classify(batches):
        for pdf in batches:
            vals = [
                table.get(int(i), ("furniture", 0.01, "chair", 0.01))
                for i in pdf["instance_id"]
            ]
            yield pd.DataFrame(
                {
                    "instance_id": pdf["instance_id"],
                    "grp": [v[0] for v in vals],
                    "grp_margin": [v[1] for v in vals],
                    "pred": [v[2] for v in vals],
                    "margin": [v[3] for v in vals],
                }
            )

    return classify


def test_hierarchical_codebook_v2(spark):
    """M4 margin/agreement semantics (build_enhanced_codebook_v2.py:330-420):
    each rejection path exercised via injected A/B stage tables."""
    from vlm_data_pipeline_spark.enrich import (
        extract_unlabeled_instances,
        hierarchical_codebook_v2,
    )

    frames = fixture_frames(spark)
    seeded = frames.withColumn(
        "bounding_boxes_3d",
        F.transform(
            F.coalesce(F.col("bounding_boxes_3d"), F.array()),
            lambda b, i: b.withField(
                "category",
                F.format_string("object_%d", (F.crc32(F.col("image_id")) + i) % 8),
            ),
        ),
    )
    present = {
        r.instance_id
        for r in extract_unlabeled_instances(seeded)
        .select("instance_id")
        .distinct()
        .collect()
    }
    assert len(present) >= 5

    ok = ("furniture", 0.01, "chair", 0.01)
    stage_a = _hier_classifier({
        0: ok,                                    # accepted end-to-end
        1: ("furniture", 0.0001, "chair", 0.01),  # coarse margin fail (A)
        2: ("furniture", 0.01, None, 0.01),       # null prompt wins (A)
        3: ("furniture", 0.01, "chair", 0.0001),  # fine margin fail (A)
        4: ("decor", 0.01, "lamp", 0.01),         # group disagreement
        5: ("furniture", 0.01, "chair", 0.01),    # fine-class disagreement
        6: ("furniture", 0.01, "chair", 0.01),    # B coarse-margin fail
        7: ("furniture", 0.01, "chair", 0.01),    # B fine-margin fail
    })
    stage_b = _hier_classifier({
        0: ok,
        1: ok,   # never reached: A rejected on coarse margin
        2: ok,   # never reached: A null
        3: ok,   # reached (A only fails FINE margin at the agreement step)
        4: ("furniture", 0.01, "lamp", 0.01),     # grp_b != grp_a
        5: ("furniture", 0.01, "table", 0.01),    # pred_b != pred_a
        6: ("furniture", 0.0001, "chair", 0.01),  # B coarse fail
        7: ("furniture", 0.01, "chair", 0.0001),  # B fine fail
    })
    out = hierarchical_codebook_v2(seeded, stage_a, stage_b).collect()
    got = {r.instance_id: r for r in out}
    assert set(got) == ({0} & present)
    if 0 in present:
        assert got[0].label == "chair" and got[0].grp == "furniture"


def test_codebook_write_read_apply_roundtrip(spark, tmp_path):
    """K4 (build_label_codebook_fast.py:425-428): snapshot → reload → apply
    produces output identical to applying the in-memory codebook."""
    from vlm_data_pipeline_spark.enrich import (
        apply_codebook,
        build_codebook,
        read_codebook,
        write_codebook,
    )

    frames = fixture_frames(spark)
    seeded = frames.withColumn(
        "bounding_boxes_3d",
        F.transform(
            F.coalesce(F.col("bounding_boxes_3d"), F.array()),
            lambda b, i: b.withField(
                "category",
                F.format_string("object_%d", (F.crc32(F.col("image_id")) + i) % 5),
            ),
        ),
    )
    codebook = build_codebook(seeded)
    path = str(tmp_path / "codebook")
    write_codebook(codebook, path)
    reloaded = read_codebook(spark, path)

    a = codebook.orderBy("instance_id").collect()
    b = reloaded.orderBy("instance_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    direct = apply_codebook(seeded, codebook).orderBy("image_id").collect()
    via_disk = apply_codebook(seeded, reloaded).orderBy("image_id").collect()
    assert [r.image_id for r in direct] == [r.image_id for r in via_disk]
    cats = lambda rows: [  # noqa: E731
        [b["category"] for b in (r.bounding_boxes_3d or []) if b is not None]
        for r in rows
    ]
    assert cats(direct) == cats(via_disk)


def test_refine_masks_stage(spark):
    """M5 mask-refinement stage: stub tightens boxes 15% per side,
    reports mask area + IoU; degenerate boxes stay non-empty."""
    from vlm_data_pipeline_spark.enrich import refine_masks

    crops = spark.createDataFrame(
        [(1, 0, 0, 100, 200), (2, 10, 10, 12, 12), (3, 5, 5, 6, 6)],
        "instance_id int, x_min int, y_min int, x_max int, y_max int",
    )
    out = {r.instance_id: r for r in refine_masks(crops).collect()}
    r1 = out[1]
    assert (r1.x_min, r1.y_min, r1.x_max, r1.y_max) == (15, 30, 85, 170)
    assert r1.mask_area == 70 * 140
    assert abs(r1.box_iou - (70 * 140) / (100 * 200)) < 1e-9
    for r in out.values():  # refined boxes never collapse
        assert r.x_max > r.x_min and r.y_max > r.y_min
