"""ES bulk/template protocol parity, driven by fixtures in the shape of
the reference's own (reference pkg/server/testdata/bulk-1.ndjson +
span.template.json; tests/fixtures/ holds hand-authored copies built
from FIXTURES.md §2-4) and reproducing the hit-count assertions of
reference pkg/server/sql_test.go:108-229 through the equivalent Python
API (no HTTP layer — SURVEY.md §2.11)."""

import json
import os

import pytest

from gopensearch_spark.dsl import Engine

REF_TESTDATA = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def loaded(spark):
    """loadFixtureData analogue (sql_test.go:22-67): PUT every template,
    then bulk-POST every ndjson fixture."""
    e = Engine(spark)
    with open(os.path.join(REF_TESTDATA, "span.template.json")) as f:
        e.put_template("spantempl", json.load(f))
    with open(os.path.join(REF_TESTDATA, "bulk-1.ndjson")) as f:
        resp = e.bulk(f.read())
    assert resp["errors"] is False
    return e, resp


def test_bulk_response_shape_and_implicit_creation(loaded):
    e, resp = loaded
    # 4 index-action docs across 3 implicitly-created indices
    assert len(resp["items"]) == 4
    assert all(it["index"]["status"] == 201 for it in resp["items"])
    assert all(it["index"]["result"] == "created" for it in resp["items"])
    assert e.list_indices() == [
        "jaeger-service-2022-11-11",
        "jaeger-span-2021-11-11",
        "jaeger-span-2022-11-11",
    ]
    assert "green\topen\tjaeger-span-2022-11-11" in e.cat_indices()


def test_basic_term_search(loaded):
    # sql_test.go TestBasic: term serviceName=frontend, size 1 -> 1 hit
    e, _ = loaded
    r = e.search("jaeger-service-2022-11-11",
                 {"query": {"term": {"serviceName": "frontend"}}, "size": 1})
    assert len(r["hits"]["hits"]) == 1
    assert r["hits"]["hits"][0]["_source"]["serviceName"] == "frontend"


def test_bool_must_term(loaded):
    # sql_test.go TestBool: bool.must term, size 1 -> 1 hit
    e, _ = loaded
    r = e.search("jaeger-service-2022-11-11",
                 {"query": {"bool": {"must": [{"term": {"serviceName": "frontend"}}]}},
                  "size": 1})
    assert len(r["hits"]["hits"]) == 1


def test_sort_on_missing_fields_zero_hits(loaded):
    # sql_test.go TestSort: terms on absent fields -> 0 hits
    e, _ = loaded
    r = e.search("jaeger-service-2022-11-11", {
        "query": {"term": {"foo": "bar", "oof": "rab"}},
        "sort": [{"asdf": {"order": "desc"}}],
    })
    assert len(r["hits"]["hits"]) == 0


def test_date_histogram_over_bulk_docs(loaded):
    # sql_test.go TestDateHistogram: one aggregation comes back
    e, _ = loaded
    r = e.search("jaeger-span-2022-11-11", {
        "aggs": {"dates": {"date_histogram": {"field": "startTimeMillis", "buckets": 200}}},
        "size": 0,
    })
    assert len(r["aggregations"]) == 1
    assert sum(b["doc_count"] for b in r["aggregations"]["dates"]["buckets"]) == 2


def test_write_time_date_mapping_round_trip(loaded):
    """templateMapDoc/unMarshalDoc parity (reference pkg/server/db.go:
    228-253, 200-226 + pkg/date): startTimeMillis is STORED as the
    RFC3339 UTC string and mapped back to epoch millis in _source —
    second-truncated by the round trip, exactly like the reference."""
    e, _ = loaded
    stored = {json.loads(c)["startTimeMillis"] for _, c in e._doc_rows["jaeger-span-2022-11-11"]}
    assert stored == {"2022-11-11T13:31:29Z"}
    r = e.search("jaeger-span-2022-11-11", {"size": 10})
    vals = {h["_source"]["startTimeMillis"] for h in r["hits"]["hits"]}
    assert vals == {1668173489000}  # 1668173489869/840 truncated to second
    # the service index matches no template -> untouched docs
    r2 = e.search("jaeger-service-2022-11-11", {"size": 10})
    assert "startTimeMillis" not in r2["hits"]["hits"][0]["_source"]


def test_range_epoch_millis_over_rfc3339_storage(loaded):
    """range format=epoch_millis against write-time-mapped RFC3339
    strings — the reference compares via DATETIME(...) (sql.go:164-195)."""
    e, _ = loaded
    body = {"query": {"range": {"startTimeMillis": {
        "gte": 1668173489000, "lte": 1668173490000, "format": "epoch_millis"}}},
        "size": 100}
    r = e.search("jaeger-span-2022-11-11", body)
    assert len(r["hits"]["hits"]) == 2
    out_of_range = {"query": {"range": {"startTimeMillis": {
        "gte": 1668173491000, "format": "epoch_millis"}}}, "size": 100}
    assert len(e.search("jaeger-span-2022-11-11", out_of_range)["hits"]["hits"]) == 0


def test_index_sticks_across_action_lines(spark):
    """Reference quirk (server.go:304-307): a per-line _index override
    reassigns the handler's index for every LATER line too."""
    e = Engine(spark)
    ndjson = "\n".join([
        '{"index":{"_index":"idx-a"}}', '{"v":1}',
        '{"index":{}}', '{"v":2}',  # no override -> sticks to idx-a
        '{"index":{"_index":"idx-b"}}', '{"v":3}',
    ])
    e.bulk(ndjson, index="default-idx")
    assert e.search("idx-a", {"size": 10})["hits"]["total"]["value"] == 2
    assert e.search("idx-b", {"size": 10})["hits"]["total"]["value"] == 1
    assert "default-idx" not in e.list_indices()


def test_single_document_ingest(spark):
    e = Engine(spark)
    e.put_template("t", {"index_patterns": "logs-*",
                         "properties": {"ts": {"type": "date", "format": "epoch_second"}}})
    doc_id = e.index_document("logs-2024", {"msg": "hello", "ts": 1700000000})
    assert doc_id == 1
    r = e.search("logs-2024", {"query": {"term": {"msg": "hello"}}})
    assert r["hits"]["total"]["value"] == 1
    assert r["hits"]["hits"][0]["_source"]["ts"] == "2023-11-14T22:13:20Z"


def test_template_read_surface(spark):
    e = Engine(spark)
    with open(os.path.join(REF_TESTDATA, "span.template.json")) as f:
        body = json.load(f)
    e.put_template("spantempl", body)
    t = e.get_template("spantempl")
    assert t["properties"] == {"startTimeMillis": {"type": "date", "format": "epoch_millis"}}
    assert e.get_template("nope") is None
    # GET /{index}/_mapping resolves through the pattern match
    m = e.get_mapping("jaeger-span-2022-11-11")
    assert m["jaeger-span-2022-11-11"]["properties"]["startTimeMillis"]["format"] == "epoch_millis"
    assert e.get_mapping("unrelated-index") == {}
    assert "spantempl" in e.get_mapping()
    # DELETE /_template/{name}
    assert e.delete_template("spantempl") is True
    assert e.delete_template("spantempl") is False
    assert e.get_mapping("jaeger-span-2022-11-11") == {}


def test_cluster_status_impersonation(spark):
    # GET / — the Grafana/client version probe (reference admin.go:18-50)
    e = Engine(spark)
    cs = e.cluster_status()
    assert cs["version"]["number"] == "7.17"
    assert cs["tagline"] == "You Go, for search"
    assert cs["name"] == "asdfasdf"
    assert cs["cluster_name"] == "qwerty"
    assert cs["cluster_uuid"] == "asdf;ljkasdf"
    assert cs["version"]["build_flavor"] == "default"
    assert cs["version"]["minimum_index_compatibility_version"] == "6.8.0"
    assert cs["version"]["minimum_wire_compatibility_version"] == "6.8.0"
    # cluster_info is the client-facing alias for the same payload
    assert e.cluster_info() == cs


def test_nested_query_on_reference_jaeger_fixture(loaded):
    """VERDICT r4 #3: the reference's own Jaeger spans carry
    tags:[{key,type,value}] arrays its DSL cannot reach (bulk-1.ndjson:4).
    `nested` + dotted paths make them addressable over the JSON docs."""
    e, _ = loaded
    # co-match within ONE tag element: key AND value in the same element
    r = e.search("jaeger-span-2022-11-11", {"query": {"nested": {
        "path": "tags",
        "query": {"bool": {"must": [
            {"term": {"tags.key": "http.url"}},
            {"term": {"tags.value": "/jquery-3.1.1.min.js"}},
        ]}},
    }}, "size": 10})
    # both 2022 spans carry http.url=/jquery-3.1.1.min.js (bulk-1.ndjson)
    assert r["hits"]["total"]["value"] == 2
    assert sorted(h["_source"]["traceID"] for h in r["hits"]["hits"]) == [
        "7d67acc7b4eafa69", "9d67acc7b4eafa69"]
    # the SAME two terms WITHOUT nested must NOT co-match across elements
    # of one doc unless each matches some element: key exists in all docs
    # but that value exists in exactly one
    r2 = e.search("jaeger-span-2022-11-11", {"query": {"nested": {
        "path": "tags",
        "query": {"bool": {"must": [
            {"term": {"tags.key": "http.method"}},
            {"term": {"tags.value": "/jquery-3.1.1.min.js"}},
        ]}},
    }}, "size": 10})
    assert r2["hits"]["total"]["value"] == 0  # no single element has both
    # dotted SCALAR path over the JSON doc: process.serviceName
    r3 = e.search("jaeger-span-2022-11-11", {
        "query": {"term": {"process.serviceName": "frontend"}}, "size": 10})
    assert r3["hits"]["total"]["value"] == 2
    # nested path inside a struct: process.tags
    r4 = e.search("jaeger-span-2022-11-11", {"query": {"nested": {
        "path": "process.tags",
        "query": {"term": {"process.tags.key": "hostname"}},
    }}, "size": 10})
    assert r4["hits"]["total"]["value"] == 2
    # numeric string coercion inside elements: status_code range
    r5 = e.search("jaeger-span-2022-11-11", {"query": {"nested": {
        "path": "tags",
        "query": {"bool": {"must": [
            {"term": {"tags.key": "http.status_code"}},
            {"range": {"tags.value": {"gte": 200, "lt": 300}}},
        ]}},
    }}, "size": 10})
    assert r5["hits"]["total"]["value"] == 2


def test_nested_agg_on_reference_jaeger_fixture(loaded):
    """Facet over the Jaeger span tags: nested agg over the JSON tag
    arrays (from_json string maps), terms on tags.key."""
    e, _ = loaded
    r = e.search("jaeger-span-2022-11-11", {"size": 0, "aggs": {"tagkeys": {
        "nested": {"path": "tags"},
        "aggs": {"keys": {"terms": {"field": "tags.key", "size": 20}}},
    }}})
    agg = r["aggregations"]["tagkeys"]
    assert agg["doc_count"] == 16  # 8 tags per span x 2 spans
    got = {b["key"]: b["doc_count"] for b in agg["keys"]["buckets"]}
    # every standard jaeger tag key appears once per span
    assert got["http.method"] == 2 and got["http.url"] == 2
    assert got["span.kind"] == 2 and got["sampler.type"] == 2
    # metric sub-agg over element values (numeric strings cast)
    r2 = e.search("jaeger-span-2022-11-11", {"size": 0, "aggs": {"st": {
        "nested": {"path": "tags"},
        "aggs": {"m": {"max": {"field": "tags.value"}}},
    }}})
    # max over string values is lexicographic; just assert shape + type
    assert r2["aggregations"]["st"]["doc_count"] == 16
    assert "value" in r2["aggregations"]["st"]["m"]


def test_ping_and_default_handler(spark):
    # HEAD / (admin.go:13-16) and the catch-all 501 (admin.go:74-85)
    e = Engine(spark)
    assert e.ping() is True
    resp = e.default_handler("/_nodes/stats")
    assert resp["status"] == 501
    assert resp["body"] is None


def test_put_empty_index_then_ingest(spark):
    # PUT /{index} creates an empty index; bulk/single-doc append to it
    e = Engine(spark)
    e.create_index("fresh-idx")
    assert e.search("fresh-idx", {"size": 10})["hits"]["total"]["value"] == 0
    e.index_document("fresh-idx", {"a": 1})
    assert e.search("fresh-idx", {"size": 10})["hits"]["total"]["value"] == 1
    # idempotent re-PUT keeps the ingested docs (no silent reset to empty)
    e.create_index("fresh-idx")
    assert e.search("fresh-idx", {"size": 10})["hits"]["total"]["value"] == 1


def test_template_persistence_across_restart(spark, tmp_path):
    """Reference parity (pkg/server/template.go:101-161: templates live
    in a __templates SQLite table and survive restarts): an Engine with a
    meta_dir reloads templates, so a NEW Engine applies the same
    write-time date mapping; DELETE persists too."""
    meta = str(tmp_path / "meta")
    e1 = Engine(spark, meta_dir=meta)
    e1.put_template("jaeger-span", {
        "index_patterns": "*jaeger-span-*",
        "mappings": {"properties": {
            "startTimeMillis": {"type": "date", "format": "epoch_millis"}}},
    })

    e2 = Engine(spark, meta_dir=meta)  # "restart"
    assert e2.get_template("jaeger-span") == e1.get_template("jaeger-span")
    e2.index_document("jaeger-span-2022-11-11", {"startTimeMillis": 1668173489869})
    stored = json.loads(e2._doc_rows["jaeger-span-2022-11-11"][0][1])
    assert stored["startTimeMillis"] == "2022-11-11T13:31:29Z"
    r = e2.search("jaeger-span-2022-11-11", {"size": 10})
    assert r["hits"]["hits"][0]["_source"]["startTimeMillis"] == 1668173489000

    assert e2.delete_template("jaeger-span") is True
    e3 = Engine(spark, meta_dir=meta)
    assert e3.get_template("jaeger-span") is None
    # an Engine WITHOUT meta_dir keeps the in-memory-only behavior
    e4 = Engine(spark)
    assert e4.templates == {}


def test_put_empty_index_cannot_clobber_dataframe_index(spark):
    import pytest

    e = Engine(spark)
    e.create_index("df-idx", spark.range(3).selectExpr("id AS doc_id"))
    with pytest.raises(ValueError, match="DataFrame-backed"):
        e.create_index("df-idx")
    assert not e.indices["df-idx"].doc_backed  # spec untouched
