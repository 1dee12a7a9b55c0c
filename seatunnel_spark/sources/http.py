"""HTTP-family sources (Http + SaaS wrappers).

Reference: connector-http + thin wrappers (MyHours, Lemlist, Klaviyo,
OneSignal, Jira, Gitlab, Github, Notion, Persistiq, Prometheus,
GoogleSheets — SURVEY.md §2.4 'SaaS/HTTP' row).

Semantics mirror HttpSourceReader.java (connector-http-base):
- pagination loop: page param `page_field` counts up from
  `start_page_number`; stops at `total_page_size` when configured,
  else when a page yields < `batch_size` records
  (HttpSourceReader.java:165-194, collect():196-220);
- `content_field` JsonPath extracts the record array
  (HttpSourceReader.collect:197-199);
- `json_field` per-column JsonPaths are zipped index-wise into rows
  (HttpSourceReader.parseToMap/decodeJSON:222-260);
- `enable_multi_lines` splits the response into one record per line
  (HttpSourceReader.pollAndCollectData:123-130);
- SaaS wrappers only shape auth headers (e.g. GithubSourceParameter,
  JiraSourceParameter + AuthorizationUtil.getTokenByBasicAuth).

Design: page fetches are driver-coordinated (the reference's reader is
a single-threaded fetch per split too); typed decode happens
distributed via from_json on the fetched page texts, so schema
coercion (tinyint/decimal/base64 bytes/date/timestamp) runs JVM-side.
At scale, many-endpooint/many-page exports go through the RestPaged
custom DataSource (sources/python_ds.py) which fans pages out across
partitions; this class is the single-endpoint config-compatible path.
"""

from __future__ import annotations

import base64
import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from seatunnel_spark.net import apply_host_aliases
from seatunnel_spark.sources.base import Source
from seatunnel_spark.types import parse_schema

HTTP_SOURCE_NAMES = ["Http", "MyHours", "Lemlist", "Klaviyo", "OneSignal", "Jira",
                     "Gitlab", "Github", "Notion", "Persistiq", "Prometheus",
                     "GoogleSheets", "Web3j"]


def jsonpath_select(doc, path: str):
    """Driver-side JsonPath subset: `$.a.b`, `[n]`, `[*]`, `.*`.
    Wildcards fan out (results flattened one level, like json-path's
    ALWAYS_RETURN_LIST); returns a list iff the path had a wildcard."""
    import re

    p = str(path).strip()
    if p.startswith("$"):
        p = p[1:]
    cur = [doc]
    fanned = False
    for whole in re.finditer(r"(\.\*)|\.([^.\[]+)|\[(\d+)\]|(\[\*\])", p):
        star, name, idx, bracket_star = whole.groups()
        nxt = []
        for c in cur:
            if star or bracket_star:
                fanned = True
                if isinstance(c, list):
                    nxt += c
                elif isinstance(c, dict):
                    nxt += list(c.values())
            elif name is not None and name != "":
                if isinstance(c, dict) and name in c:
                    nxt.append(c[name])
            elif idx is not None:
                k = int(idx)
                if isinstance(c, list) and k < len(c):
                    nxt.append(c[k])
        cur = nxt
    if fanned:
        return cur
    return cur[0] if cur else None


def _fetch_one(url: str, method: str, headers: dict | None, params: dict | None,
               body) -> str:
    import urllib.parse
    import urllib.request

    data = None
    req_headers = dict(headers or {})
    if method == "POST" and params and body is None:
        # reference HttpClientProvider posts params as form-urlencoded
        data = urllib.parse.urlencode(params).encode()
        req_headers.setdefault("Content-Type", "application/x-www-form-urlencoded")
        full = url
    else:
        q = "&".join(f"{k}={v}" for k, v in (params or {}).items())
        full = f"{url}?{q}" if q else url
        if body is not None:
            data = (body if isinstance(body, str)
                    else json.dumps(body)).encode()
            req_headers.setdefault("Content-Type", "application/json")
    req = urllib.request.Request(full, method=method, data=data,
                                 headers=req_headers)
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        return resp.read().decode()


class PrometheusSource(Source):
    """Prometheus HTTP-API source (connector-prometheus
    PrometheusSourceParameter: query_type Instant -> GET /api/v1/query,
    Range -> /api/v1/query_range with start/end/step, CURRENT_TIMESTAMP
    resolving to now; PrometheusSourceReader.convertInstantPoints /
    convertRangePoints: each result point becomes (metric map,
    Double(value[1]), long(value[0]*1000))). Driver-side single query
    like the reference's one-split reader; VictoriaMetrics speaks the
    same API, so both e2e conf families route here."""

    NAME = "Prometheus"

    def read(self, spark: SparkSession) -> DataFrame:
        import datetime as _dt

        base = apply_host_aliases(str(self.require("url"))).rstrip("/")
        query = str(self.require("query"))
        qtype = str(self.opt("query_type", "Instant"))
        params: dict = {"query": query}
        if self.opt("timeout") is not None:
            params["timeout"] = self.opt("timeout")

        def _time(v):
            if str(v) == "CURRENT_TIMESTAMP":
                return _dt.datetime.now(_dt.timezone.utc).isoformat()
            return str(v)

        if qtype.lower() == "range":
            url = base + "/api/v1/query_range"
            params["start"] = _time(self.require("start"))
            params["end"] = _time(self.require("end"))
            params["step"] = str(self.require("step"))
        else:
            url = base + "/api/v1/query"
            if self.opt("time") is not None:
                params["time"] = _time(self.opt("time"))
        headers = dict(self.opt("headers") or {})
        # PromQL carries '+', '&', '=', '{}', quotes — full RFC 3986
        # encoding, not a manual space substitution
        import urllib.parse as _up
        text = _fetch_one(
            url + "?" + _up.urlencode({k: str(v)
                                       for k, v in params.items()}),
            "GET", headers, None, None)
        content_field = self.opt("content_field", "$.data.result.*")
        points = jsonpath_select(json.loads(text), content_field)
        if points is None:
            points = []
        if not isinstance(points, list):
            points = [points]

        rows = []
        for p in points:
            metric = {str(k): str(v)
                      for k, v in (p.get("metric") or {}).items()}
            if qtype.lower() == "range":
                for value in p.get("values") or []:
                    rows.append((metric, float(value[1]),
                                 int(float(value[0]) * 1000)))
            else:
                value = p.get("value") or [0, "0"]
                rows.append((metric, float(value[1]),
                             int(float(value[0]) * 1000)))
        schema = parse_schema(
            (self.opt("schema") or {}).get("fields")
            or {"metric": "map<string,string>", "value": "double",
                "time": "bigint"})
        return spark.createDataFrame(rows, schema)


class Web3jSource(Source):
    """Ethereum JSON-RPC source (connector-web3j
    Web3jSourceReader.java): one eth_blockNumber call per poll; each
    row is a single `value` string column holding
    {"timestamp": <iso-now>, "blockNumber": <n>} — exactly the
    reader's OBJECT_MAPPER payload. Driver-side single call, like the
    reference's single-split reader."""

    NAME = "Web3j"

    def read(self, spark: SparkSession) -> DataFrame:
        import datetime as _dt
        import urllib.request

        url = apply_host_aliases(str(self.require("url")))
        body = json.dumps({"jsonrpc": "2.0", "method": "eth_blockNumber",
                           "params": [], "id": 1}).encode()
        req = urllib.request.Request(
            url, data=body, headers={"Content-Type": "application/json"},
            method="POST")
        with urllib.request.urlopen(req, timeout=30) as r:  # noqa: S310
            resp = json.loads(r.read())
        block = int(str(resp.get("result", "0x0")), 16)
        value = json.dumps({
            "timestamp": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "blockNumber": block})
        return spark.createDataFrame([(value,)], "value string")


class HttpSource(Source):
    NAME = "Http"

    # --- SaaS auth-header shaping (one dict entry per wrapper class) ---
    def _auth_headers(self) -> dict:
        name = (self.plugin_name or self.NAME).lower()
        h: dict[str, str] = {}

        def basic(user, pwd):
            return "Basic " + base64.b64encode(f"{user}:{pwd}".encode()).decode()

        if name == "myhours":
            # MyHoursSource.getAccessToken (connector-http-myhours/
            # MyHoursSource.java:85-111): POST the login endpoint with
            # {grantType: password, email, password, clientId: api},
            # read `accessToken`, send it as a Bearer header.
            login_url = apply_host_aliases(self.opt(
                "_login_url", "https://api2.myhours.com/api/tokens/login"))
            reply = json.loads(_fetch_one(
                login_url, "POST", {"Content-Type": "application/json"},
                None, {"grantType": "password",
                       "email": self.require("email"),
                       "password": self.require("password"),
                       "clientId": "api"}))
            token = reply.get("accessToken")
            if not token:
                raise RuntimeError(f"MyHours login returned no accessToken: "
                                   f"{reply}")
            h["Authorization"] = f"Bearer {token}"
        elif name == "github" and self.opt("access_token"):
            # GithubSourceParameter.java:34-52 (Bearer)
            h["Authorization"] = f"Bearer {self.opt('access_token')}"
        elif name == "gitlab" and self.opt("access_token"):
            # GitlabSourceParameter.java:31-35
            h["PRIVATE-TOKEN"] = str(self.opt("access_token"))
        elif name == "jira":
            # JiraSource.java:55-60 — Basic base64(email:api_token)
            h["Authorization"] = basic(self.opt("email", ""),
                                       self.opt("api_token", ""))
        elif name == "lemlist":
            # LemlistSource.java:57-60 — Basic base64(:password)
            h["Authorization"] = basic("", self.opt("password", ""))
        elif name == "klaviyo":
            # KlaviyoSourceParameter.java:31-40
            h["Accept"] = "application/json"
            h["Authorization"] = f"Klaviyo-API-Key {self.opt('private_key', '')}"
            if self.opt("revision"):
                h["revision"] = str(self.opt("revision"))
        elif name == "notion":
            # NotionSourceParameter.java:29-39
            h["Authorization"] = f"Bearer {self.opt('password', '')}"
            if self.opt("version"):
                h["Notion-Version"] = str(self.opt("version"))
        elif name == "onesignal":
            # OneSignalSourceParameter.java:29-38
            h["Content-Type"] = "application/json"
            h["Authorization"] = f"Basic {self.opt('password', '')}"
        elif name == "persistiq":
            # PersistiqSourceParameter.java:29-34
            h["x-api-key"] = str(self.opt("password", ""))
        return h

    def _docs_of(self, text: str) -> tuple[list[str], int]:
        """One fetched page -> (JSON docs ready for from_json, number of
        records seen) — the record count drives the batch_size stop rule
        exactly like collect()'s JsonNode.size()."""
        content_field = self.opt("content_field")
        json_field = self.opt("json_field")
        lines = ([ln.strip() for ln in text.splitlines() if ln.strip()]
                 if self.opt("enable_multi_lines") else [text])
        docs: list[str] = []
        n = 0
        for line in lines:
            if content_field:
                node = jsonpath_select(json.loads(line), content_field)
                n += len(node) if isinstance(node, list) else 1
                docs.append(json.dumps(node))
            elif json_field:
                parsed = json.loads(line)
                cols = {k: jsonpath_select(parsed, p)
                        for k, p in dict(json_field).items()}
                lists = {k: (v if isinstance(v, list) else [v])
                         for k, v in cols.items()}
                sizes = {len(v) for v in lists.values()}
                if len(sizes) > 1:
                    # HttpSourceReader.decodeJSON:246-259
                    raise ValueError(
                        f"json_field paths yielded inconsistent record "
                        f"counts: { {k: len(v) for k, v in lists.items()} }")
                size = sizes.pop() if sizes else 0
                records = [{k: lists[k][i] for k in lists} for i in range(size)]
                n += size
                docs.append(json.dumps(records))
            else:
                try:
                    node = json.loads(line)
                    n += len(node) if isinstance(node, list) else 1
                except ValueError:
                    n += 1
                docs.append(line)
        return docs, n

    def read(self, spark: SparkSession) -> DataFrame:
        url = apply_host_aliases(self.require("url"))
        method = str(self.opt("method", "GET")).upper()
        headers = {**self._auth_headers(), **(self.opt("headers") or {})}
        params = self.opt("params")
        body = self.opt("body")
        page_spec = self.opt("pageing")

        fetcher = self.opt("_fetcher")  # test injection point
        docs: list[str] = []
        if fetcher is not None:
            for text in fetcher(url, method, headers, params, body, page_spec):
                docs += self._docs_of(text)[0]
        elif not page_spec:
            docs += self._docs_of(_fetch_one(url, method, headers, params, body))[0]
        else:
            # HttpSourceReader.internalPollNext:165-180 + collect():203-218
            field = page_spec.get("page_field", "page")
            page = int(page_spec.get("start_page_number", 1))
            total = int(page_spec.get("total_page_size", 0))
            batch = int(page_spec.get("batch_size", 100))
            while True:
                text = _fetch_one(url, method, headers,
                                  {**(params or {}), field: page}, body)
                d, n = self._docs_of(text)
                docs += d
                if total > 0:
                    if page >= total:
                        break
                elif n < batch:
                    break
                page += 1

        df = spark.createDataFrame([(r,) for r in docs], ["content"])
        # reference default format is TEXT (HttpConfig.java:77); with a
        # schema declared, decode as JSON like every schema'd e2e conf does
        fmt = str(self.opt("format", "json" if self.opt("schema") else "text")).lower()
        if fmt == "text" or not self.opt("schema"):
            return df
        schema = parse_schema(self.opt("schema").get("fields", self.opt("schema")))
        from pyspark.sql.types import ArrayType

        # from_json(ArrayType) also accepts a single JSON object as an
        # array-of-one, so page docs and line docs decode uniformly.
        parsed = F.from_json(F.col("content"), ArrayType(schema))
        return df.select(F.explode(parsed).alias("r")).select("r.*")
