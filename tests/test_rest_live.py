"""rest stage against a real local HTTP server: templating, query
params, POST bodies, drop-on-4xx, retry-on-5xx, status counters — the
reference's live surface (filters.py:17-89) with no external network.
Replicates the countries example shape (examples/countries/countries.yml)
with the restcountries call stubbed locally."""

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from filefilter_spark.config import load_config_str
from filefilter_spark.pipeline import Pipeline


class _Handler(BaseHTTPRequestHandler):
    fail_next = {}  # path → remaining 500s before success

    def log_message(self, *a):  # silence
        pass

    def _respond(self, code, payload):
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        path, _, query = self.path.partition("?")
        if path.startswith("/v31/name/"):
            name = path.rsplit("/", 1)[-1]
            regions = {"spain": "Europe", "france": "Europe", "Germany": "Europe"}
            if name in regions:
                self._respond(200, {"region": regions[name], "name": name})
            else:
                self._respond(404, {"error": "not found"})
        elif path == "/flaky":
            n = _Handler.fail_next.get(query, 0)
            if n > 0:
                _Handler.fail_next[query] = n - 1
                self._respond(500, {"error": "boom"})
            else:
                self._respond(200, {"ok": query})
        else:
            self._respond(404, {"error": "nope"})

    def do_POST(self):
        length = int(self.headers.get("Content-Length", 0))
        body = self.rfile.read(length).decode()
        self._respond(200, {"echo": body})


@pytest.fixture(scope="module")
def server():
    httpd = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()


def test_countries_example_shape(spark, server):
    """countries.yml: GET /v3.1/name/{countryName} → response column →
    python stage extracts region (examples/countries/countries.yml)."""
    df = spark.createDataFrame(
        [(1, "spain"), (2, "france"), (3, "Germany")], "id int, countryName string"
    )
    out = Pipeline(spark, load_config_str(f"""
filters:
  - name: rest
    actionType: rest
    actionConfig:
      method: GET
      host: "{server}"
      path: "v31/name/{{countryName}}"
      newField: response
  - name: extract
    actionType: python
    code: |
      import json
      row['region'] = json.loads(row['response'])['region']
""")).run(df).df
    rows = {r["countryName"]: r["region"] for r in out.collect()}
    assert rows == {"spain": "Europe", "france": "Europe", "Germany": "Europe"}


def test_rest_drop_on_404(spark, server):
    df = spark.createDataFrame(
        [(1, "spain"), (2, "atlantis")], "id int, countryName string"
    )
    result = Pipeline(spark, load_config_str(f"""
filters:
  - name: rest
    actionType: rest
    actionConfig:
      method: GET
      host: "{server}"
      path: "v31/name/{{countryName}}"
""")).run(df)
    assert result.df.count() == 1  # 404 row dropped (filters.py:83-89)
    m = result.harvest_metrics()[0]
    assert m.http_status["20X"] == 1 and m.http_status["40X"] == 1


def test_rest_retry_on_500_then_success(spark, server):
    """A 500 that succeeds on retry keeps the row, and the status
    classes count per row: once, as 20X."""
    _Handler.fail_next["k=a"] = 1  # first attempt 500s, retry succeeds
    df = spark.createDataFrame([(1, "a")], "id int, k string")
    result = Pipeline(spark, load_config_str(f"""
filters:
  - name: rest
    actionType: rest
    actionConfig:
      method: GET
      host: "{server}"
      path: "flaky"
      queryParams:
        k: "{{k}}"
      maxRetries: 2
      backoff: 0.01
""")).run(df)
    rows = result.df.collect()
    assert len(rows) == 1
    assert json.loads(rows[0]["response"]) == {"ok": "k=a"}
    m = result.harvest_metrics()[0]
    assert (m.http_status["20X"], m.http_status["50X"]) == (1, 0)


def test_rest_post_body_always_sent(spark, server):
    """Intended semantics: POST body sent regardless of logging flags
    (the reference only sent it when logHttpRequests was on — quirk 1)."""
    df = spark.createDataFrame([(1, "7.1", "-3.2")], "id int, lat string, lon string")
    out = Pipeline(spark, load_config_str(f"""
filters:
  - name: rest
    actionType: rest
    actionConfig:
      method: POST
      host: "{server}"
      path: "reverse"
      postBody: |
        lat: {{lat}}
        lon: {{lon}}
"""), ).run(df).df
    rows = out.collect()
    assert len(rows) == 1
    echoed = json.loads(rows[0]["response"])["echo"]
    assert "lat: 7.1" in echoed and "lon: -3.2" in echoed
