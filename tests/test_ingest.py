"""Ingest pipelines: processor chain semantics, registry persistence,
_simulate, and reindex-with-pipeline through the merge path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opensearch_dynamodb_etl_cdk_spark.functions.ingest import (
    apply_processors,
)
from opensearch_dynamodb_etl_cdk_spark.sources.fixture_gen import gen_corpus
from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
    FlightsEtlPipeline,
    PipelineConfig,
)


def test_processor_chain_semantics(spark):
    df = spark.createDataFrame(
        [(1, "  Hello World  ", "3.5", "a,b,c", "GET /x 200"),
         (2, "BYE", "oops", "d", "bad")],
        "id long, txt string, num string, csv string, logline string",
    )
    out = apply_processors(df, [
        {"trim": {"field": "txt"}},
        {"lowercase": {"field": "txt", "target_field": "txt_lc"}},
        {"convert": {"field": "num", "type": "double"}},
        {"split": {"field": "csv", "separator": ","}},
        {"gsub": {"field": "txt", "pattern": "o", "replacement": "0"}},
        {"set": {"field": "source", "value": "ingest"}},
        {"grok": {"field": "logline",
                  "patterns": ["%{WORD:verb} %{NOTSPACE:path} "
                               "%{INT:status:int}"]}},
        {"script": {"target_field": "id2", "source": "id * 10"}},
        {"rename": {"field": "csv", "target_field": "parts"}},
    ])
    r1, r2 = out.orderBy("id").collect()
    assert r1["txt"] == "Hell0 W0rld" and r1["txt_lc"] == "hello world"
    assert r1["num"] == 3.5
    assert r2["num"] is None  # try_cast: unparseable → null, no failure
    assert r1["parts"] == ["a", "b", "c"]
    assert r1["source"] == "ingest"
    assert (r1["verb"], r1["path"], r1["status"]) == ("GET", "/x", 200)
    assert r2["status"] is None
    assert r1["id2"] == 10
    assert "csv" not in out.columns
    # set override=False keeps existing values
    kept = apply_processors(df, [
        {"set": {"field": "txt", "value": "X", "override": False}}])
    assert kept.orderBy("id").collect()[0]["txt"] == "  Hello World  "
    # remove + date + join
    out2 = apply_processors(
        spark.createDataFrame([("2024-01-02 03:04:05", ["x", "y"])],
                              "when string, arr array<string>"),
        [{"date": {"field": "when"}},
         {"join": {"field": "arr", "separator": "-"}},
         {"remove": {"field": "when"}}],
    ).collect()[0]
    assert str(out2["@timestamp"]) == "2024-01-02 03:04:05"
    assert out2["arr"] == "x-y"
    with pytest.raises(ValueError):
        apply_processors(df, [{"frobnicate": {"field": "txt"}}])
    with pytest.raises(ValueError):
        apply_processors(df, [{"convert": {"field": "num",
                                           "type": "money"}}])
    # script sandbox holds on the ingest surface too
    with pytest.raises(PermissionError):
        apply_processors(df, [{"script": {
            "target_field": "x", "source": "reflect('a','b')"}}])


@pytest.fixture()
def pipe(spark, tmp_path):
    cfg = PipelineConfig(index_root=str(tmp_path / "i"),
                         checkpoint_root=str(tmp_path / "c"))
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    return p


def test_registry_and_simulate(pipe):
    pipe.put_ingest_pipeline("norm", {
        "description": "normalize",
        "processors": [
            {"lowercase": {"field": "name"}},
            {"set": {"field": "tag", "value": "T"}},
        ],
    })
    assert pipe.get_ingest_pipeline("norm")["description"] == "normalize"
    assert "norm" in pipe.get_ingest_pipeline()
    out = pipe.simulate_ingest("norm", [
        {"name": "ALPHA"}, {"name": "Beta"}])
    assert out == [{"name": "alpha", "tag": "T"},
                   {"name": "beta", "tag": "T"}]
    # inline pipelines work without registration
    out = pipe.simulate_ingest(
        {"processors": [{"uppercase": {"field": "name"}}]},
        [{"name": "x"}])
    assert out == [{"name": "X"}]
    assert pipe.delete_ingest_pipeline("norm") is True
    assert pipe.delete_ingest_pipeline("norm") is False
    with pytest.raises(ValueError):
        pipe.get_ingest_pipeline("norm")
    with pytest.raises(ValueError):
        pipe.put_ingest_pipeline("bad", {"processors": [{"nope": {}}]})


def test_reindex_with_pipeline(pipe):
    pipe.put_ingest_pipeline("tagger", {"processors": [
        {"set": {"field": "ingested_by", "value": "tagger"}},
        {"uppercase": {"field": "fare_class",
                       "target_field": "fare_class_uc"}},
    ]})
    n = pipe.reindex("fare", "fare-tagged", pipeline="tagger")
    assert n > 0
    tagged = pipe.index_view("fare-tagged")
    assert tagged.count() == n
    row = tagged.filter(F.col("fare_class").isNotNull()).collect()[0]
    assert row["ingested_by"] == "tagger"
    assert row["fare_class_uc"] == row["fare_class"].upper()
    # a pipeline that drops _id is rejected before any write
    with pytest.raises(ValueError):
        pipe.reindex("fare", "fare-broken", pipeline={
            "processors": [{"remove": {"field": "_id"}}]})
    assert pipe.index_view("fare-broken") is None


def test_reindex_nondeterministic_id_keeps_dest_docs(pipe):
    """A pipeline whose script derives ``_id`` from the clock gives a
    copied document a different key in every query that evaluates it.
    The merge must find the touched buckets and write the merged rows
    from the same evaluation of the batch, or a bucket only the second
    evaluation reaches is overwritten with just the new rows and its
    stored documents are lost."""
    pipe.reindex("fare", "fare-copy")
    stored = {r._id for r in pipe.index_view("fare-copy").select("_id").collect()}
    assert stored
    clock_ids = {"processors": [{"script": {
        "target_field": "_id",
        "source": "concat('t-', cast(unix_micros(current_timestamp()) as string))",
    }}]}
    ids = sorted(r._id for r in pipe.index_view("fare").select("_id").collect())
    added = 0
    for doc_id in ids[:3]:  # one doc at a time: one bucket of 16 each
        added += pipe.reindex("fare", "fare-copy", pipeline=clock_ids,
                              query={"ids": {"values": [doc_id]}})
    after = {r._id for r in pipe.index_view("fare-copy").select("_id").collect()}
    assert added == 3
    assert stored <= after
    assert len(after) == len(stored) + added
