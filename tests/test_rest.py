"""REST endpoint: POST /query with a reference-shaped pipeline config."""

import json
import os
import urllib.request

import pytest

from macrobase_spark.server import serve

REF = "/root/reference"

pytestmark = pytest.mark.skipif(
    not os.path.isfile(f"{REF}/core/demo/sample.csv"), reason="reference demo absent"
)


def test_rest_query(spark):
    srv = serve(spark, port=0, base_dir=REF, background=True)
    port = srv.server_address[1]
    try:
        conf = {
            "pipeline": "BasicBatchPipeline",
            "inputURI": "csv://core/demo/sample.csv",
            "classifier": "percentile",
            "metric": "usage",
            "cutoff": 1.0,
            "summarizer": "apriori",
            "attributes": ["location", "version"],
            "minRatioMetric": 10.0,
            "minSupport": 0.2,
        }
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query",
            data=json.dumps(conf).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            body = json.loads(resp.read())
        rows = body["explanation"]
        assert len(rows) > 0
        for r in rows:
            assert r["support"] >= 0.2 and r["global_ratio"] >= 10.0

        # bad config → 500 with an error body, server stays up
        bad = urllib.request.Request(
            f"http://127.0.0.1:{port}/query", data=b"{}", method="POST"
        )
        try:
            urllib.request.urlopen(bad, timeout=60)
            raise AssertionError("expected HTTP 500")
        except urllib.error.HTTPError as e:
            assert e.code == 500
            assert "error" in json.loads(e.read())
    finally:
        srv.shutdown()
