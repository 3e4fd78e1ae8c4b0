"""The per-epoch CDC commit (``_apply_batch``) on static frames, no
streaming query: three epochs plus a re-delivery, checked against a
pure-Python last-write-wins model, golden ``_metrics`` rows, the shape
of the merge plan and the number of Spark jobs an epoch costs.

Covered hazards: a late lower-sequence MODIFY, an exact re-delivery
(one event inside a batch, then a whole epoch), deletes that empty a
hash bucket, a stale upsert after a delete, and the same run with
``keep_tombstones=True``.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from opensearch_dynamodb_etl_cdk_spark.plans.snapshot import census, formatted_plan
from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
    CDC_SCHEMA,
    FlightsEtlPipeline,
    PipelineConfig,
)

N_BUCKETS = 4
MAX_JOBS_PER_EPOCH = 16
TYPES = {f"F{i}": "fare" for i in range(8)}
TYPES.update({f"G{i}": "flight" for i in range(4)})
TYPES.update({"B0": "booking", "B1": "booking"})


def _event(seq, name, pk, klass="nonstop"):
    image = None
    if name != "REMOVE":
        image = json.dumps({"PK": {"S": pk}, "SK": {"S": "s"},
                            "type": {"S": TYPES[pk]}, "class": {"S": klass}})
    return {"seq": seq, "event_name": name, "event_ts": None,
            "pk": pk, "sk": "s", "new_image_json": image}


def _apply_model(model, events, tombstones):
    """Per-key latest event of the batch; it replaces the stored one
    only with a strictly higher seq. Deletes store nothing unless
    tombstones are kept."""
    latest = {}
    for e in events:
        k = f"{e['pk']}|s"
        if k not in latest or e["seq"] > latest[k]["seq"]:
            latest[k] = e
    for k, e in latest.items():
        stored = model.get(k)
        if stored is not None and stored["seq"] >= e["seq"]:
            continue
        if e["event_name"] == "REMOVE" and not tombstones:
            model.pop(k, None)
        else:
            model[k] = e


def _route_events(events, route):
    """What the route's slice sees: its own upserts and every delete."""
    return [e for e in events
            if e["event_name"] == "REMOVE" or TYPES[e["pk"]] == route]


def _expected(model):
    return {k: (2 * e["seq"], e["event_name"] == "REMOVE",
                None if e["event_name"] == "REMOVE"
                else json.loads(e["new_image_json"])["class"]["S"])
            for k, e in model.items()}


def _stored(pipeline, route):
    idx = pipeline.read_index(route)
    if idx is None:
        return {}
    deleted = F.col("_deleted") if "_deleted" in idx.columns else F.lit(False)
    rows = idx.select("_id", "_seq", deleted.alias("d"), "fare_class").collect()
    return {r._id: (r._seq, r.d, None if r.d else r.fare_class) for r in rows}


@pytest.mark.parametrize("tombstones", [False, True])
def test_epoch_commit_matches_lww_model(spark, tmp_path, monkeypatch, tombstones):
    cfg = PipelineConfig(index_root=str(tmp_path / "idx"),
                         checkpoint_root=str(tmp_path / "chk"),
                         n_buckets=N_BUCKETS, keep_tombstones=tombstones)
    p = FlightsEtlPipeline(spark, cfg)
    models = {"fare": {}, "flight": {}}

    def apply(events, epoch_id, group=None):
        batch = p.transform_cdc(spark.createDataFrame(events, CDC_SCHEMA))
        if group:
            spark.sparkContext.setJobGroup(group, group)
        try:
            p._apply_batch(batch, epoch_id=epoch_id)
        finally:
            if group:
                spark.sparkContext.setJobGroup("", "")
        for route, model in models.items():
            _apply_model(model, _route_events(events, route), tombstones)
        for route, model in models.items():
            assert _stored(p, route) == _expected(model), (route, epoch_id)

    # epoch 0: 8 fares (one delivered twice), 4 flights, 1 unrouted
    e0 = [_event(10 * (i + 1), "INSERT", f"F{i}") for i in range(8)]
    e0 += [dict(e0[0])]
    e0 += [_event(100 + 10 * i, "INSERT", f"G{i}") for i in range(4)]
    e0 += [_event(150, "INSERT", "B0")]
    apply(e0, 0)

    # the fare bucket holding the fewest documents: epoch 1 deletes it empty
    sizes = {r._bucket: r.n for r in p.read_index("fare").groupBy("_bucket")
             .agg(F.count("*").alias("n")).collect()}
    target = min(sorted(sizes), key=lambda b: sizes[b])
    doomed = sorted(r._id.split("|")[0] for r in p.read_index("fare")
                    .filter(F.col("_bucket") == target).collect())
    survivor = next(f"F{i}" for i in (1, 2, 3) if f"F{i}" not in doomed)

    # epoch 1: a newer MODIFY, a late lower-seq MODIFY, an exact
    # re-delivery of an epoch-0 event, the deletes, a flight MODIFY
    e1 = [_event(200, "MODIFY", survivor, "direct"),
          _event(5, "MODIFY", "F2", "late"),
          dict(e0[3])]
    e1 += [_event(300 + 10 * i, "REMOVE", pk) for i, pk in enumerate(doomed)]
    e1 += [_event(400, "MODIFY", "G0", "direct")]

    plans = []
    checkpoint = ClassicDataFrame.localCheckpoint

    def recording(df, *a, **k):
        plans.append(formatted_plan(df))
        return checkpoint(df, *a, **k)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", recording)
    group = f"epoch-commit-{tombstones}"
    apply(e1, 1, group=group)
    monkeypatch.undo()

    # two routes, each merged with exactly one shuffle
    assert len(plans) == 2
    assert [census(pl)["exchanges"] for pl in plans] == [1, 1]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= MAX_JOBS_PER_EPOCH

    bucket_dir = os.path.join(cfg.index_root, "fare", f"_bucket={target}")
    if tombstones:
        assert {r._deleted for r in p.read_index("fare")
                .filter(F.col("_bucket") == target).collect()} == {True}
    else:
        assert not os.path.exists(bucket_dir)

    # the same epoch delivered again: same index, metrics not duplicated
    apply(e1, 1)

    # epoch 2: a stale upsert of a deleted key (resurrects only without
    # tombstones), a flight delete, an unrouted insert
    e2 = [_event(300 + 10 * len(doomed) - 11, "MODIFY", doomed[-1], "stale"),
          _event(500, "REMOVE", "G1"),
          _event(510, "INSERT", "B1")]
    apply(e2, 2)

    k = len(doomed)
    golden = sorted([
        (0, "fare", 14, 9, 9, 0, 0), (0, "flight", 14, 4, 4, 0, 0),
        (0, "dropped", 14, 1, 0, 0, 0),
        (1, "fare", 4 + k, 3, 3, k, 0), (1, "flight", 4 + k, 1, 1, k, 0),
        (1, "dropped", 4 + k, 0, 0, 0, 0),
        (2, "fare", 3, 1, 1, 1, 0), (2, "flight", 3, 0, 0, 1, 0),
        (2, "dropped", 3, 1, 0, 0, 0),
    ])
    got = sorted(tuple(r) for r in p.read_metrics().select(
        "epoch", "route", "rows_in", "rows_routed", "rows_merged",
        "rows_deleted", "rows_dlq").collect())
    assert got == golden


def test_metrics_frame_is_jvm_side(spark, tmp_path):
    """The ``_metrics`` rows are built without a Python RDD, with the
    nullable schema the table has always had."""
    p = FlightsEtlPipeline(spark, PipelineConfig(
        index_root=str(tmp_path / "idx"), checkpoint_root=str(tmp_path / "c")))
    rows = [(3, "fare", 10, 7, 7, 2, 0), (3, "dropped", 10, 1, 0, 0, 0)]
    mdf = p._metrics_frame(rows)
    assert "ExistingRDD" not in formatted_plan(mdf)
    assert [tuple(r) for r in mdf.collect()] == rows
    assert mdf.schema.simpleString() == (
        "struct<epoch:bigint,route:string,rows_in:bigint,rows_routed:bigint,"
        "rows_merged:bigint,rows_deleted:bigint,rows_dlq:bigint>")
    assert all(f.nullable for f in mdf.schema.fields)
