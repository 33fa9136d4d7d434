"""End-to-end serving-tier test: Spark builds the partitioned JSON
export, the stdlib HTTP server serves it, and a real GET returns the
same rows the serving query computed (reference parity: app.py:15-38,
but with the join precomputed instead of run per request)."""

from __future__ import annotations

import json
import os
import threading
import urllib.parse
import urllib.request
import wsgiref.simple_server

import pytest
from pyspark.sql import functions as F

from oil_wells_data_wrangling_spark.operators.spatial import with_coordinates
from oil_wells_data_wrangling_spark.serving import serve_wells_http
from oil_wells_data_wrangling_spark.sources.readers import load_tables
from oil_wells_data_wrangling_spark.sources.sinks import export_json
from oil_wells_data_wrangling_spark.wsgi import make_wsgi_app


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        assert r.headers["Content-Type"] == "application/json"
        return json.loads(r.read())


class _QuietWSGIHandler(wsgiref.simple_server.WSGIRequestHandler):
    def log_message(self, *a):
        pass


def _wsgi_server(export_dir: str):
    """A real WSGI server (wsgiref) over ``make_wsgi_app``, on a daemon
    thread, so the streaming iterator path runs end-to-end."""
    server = wsgiref.simple_server.make_server(
        "127.0.0.1", 0, make_wsgi_app(export_dir),
        handler_class=_QuietWSGIHandler,
    )
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


def _canon(rows) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def _rows_from_export_lines(root: str) -> list[dict]:
    """The reference reading of an export: ``json.loads`` of every line
    plus the directory's partition key/values, decoded the way Spark
    encodes them (null as the Hive default partition, %XX escapes)."""
    rows = []
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        segs = [] if rel == "." else rel.split(os.sep)
        if any("=" not in seg for seg in segs):
            continue
        part = {}
        for seg in segs:
            k, v = seg.split("=", 1)
            part[urllib.parse.unquote(k)] = (
                None if v == "__HIVE_DEFAULT_PARTITION__"
                else urllib.parse.unquote(v)
            )
        for fn in files:
            if fn.startswith("part-") and fn.endswith(".json"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    rows += [
                        {**json.loads(line), **part}
                        for line in f
                        if line.strip()
                    ]
    return rows


def test_http_serving_over_partitioned_export(spark, sf_dir, tmp_path):
    pos = with_coordinates(load_tables(spark, sf_dir).supplier).withColumn(
        "band", (F.col("cell_lat") / 30).cast("int")
    )
    export = pos.drop("cell_lat", "cell_lon")
    path = str(tmp_path / "wells_json")
    export_json(export, path, partition_col="band")

    want = {
        (r["s_suppkey"], r["band"]): (r["lat"], r["lon"])
        for r in export.collect()
    }
    bands = {b for (_, b) in want}

    server = serve_wells_http(path)
    try:
        base = f"http://127.0.0.1:{server.server_port}"
        # full fetch: every exported row, partition column re-attached
        rows = _get(f"{base}/wells")
        got = {(r["s_suppkey"], int(r["band"])): (r["lat"], r["lon"]) for r in rows}
        assert got == want
        # viewport fetch: exactly one partition directory
        band = sorted(bands)[0]
        rows = _get(f"{base}/wells?band={band}")
        assert rows and all(int(r["band"]) == band for r in rows)
        assert len(rows) == sum(1 for (_, b) in want if b == band)
        # filter on a NON-partition column: row-level fallback, same
        # result as filtering client-side (ADVICE r5 — used to return
        # the full dataset against a partitioned export)
        some_key = sorted(want)[0][0]
        rows = _get(f"{base}/wells?s_suppkey={some_key}")
        assert rows and all(r["s_suppkey"] == some_key for r in rows)
        assert len(rows) == sum(1 for (k, _) in want if k == some_key)
        # filter key that matches nothing → empty list, not everything
        assert _get(f"{base}/wells?no_such_col=zzz") == []
        # unknown path 404s
        try:
            urllib.request.urlopen(f"{base}/nope", timeout=30)
            raised = False
        except urllib.error.HTTPError as e:
            raised = e.code == 404
        assert raised
    finally:
        server.shutdown()


def test_http_serving_streams_chunked_multi_partition(spark, sf_dir, tmp_path):
    """The unfiltered dump must arrive as a chunked stream (no
    Content-Length — the handler never buffers the whole export) and
    parse to the full row set across many partition directories and
    multiple part files."""
    docs = load_tables(spark, sf_dir).documents.select(
        "doc_id", "lang", "source", "n_chars"
    ).repartition(4)
    path = str(tmp_path / "docs_json")
    export_json(docs, path, partition_col="lang")

    n_want = docs.count()
    server = serve_wells_http(path)
    try:
        base = f"http://127.0.0.1:{server.server_port}"
        with urllib.request.urlopen(f"{base}/wells", timeout=60) as r:
            assert r.headers.get("Content-Length") is None
            assert r.headers.get("Transfer-Encoding") == "chunked"
            rows = json.loads(r.read())
        assert len(rows) == n_want
        assert {int(r["doc_id"]) for r in rows} == set(
            d["doc_id"] for d in docs.select("doc_id").collect()
        )
    finally:
        server.shutdown()


def test_static_map_and_index_served(spark, sf_dir, tmp_path):
    """Reference app.py:34-44 parity: / and /map serve the static
    front-end; the map page wires fetch('/wells') into Leaflet."""
    docs = load_tables(spark, sf_dir).documents.select("doc_id", "lang")
    path = str(tmp_path / "j")
    export_json(docs, path, partition_col=None)
    server = serve_wells_http(path)
    try:
        base = f"http://127.0.0.1:{server.server_port}"
        with urllib.request.urlopen(f"{base}/map", timeout=30) as r:
            assert r.headers["Content-Type"].startswith("text/html")
            page = r.read().decode("utf-8")
        assert "leaflet" in page and "fetch('/wells')" in page
        with urllib.request.urlopen(f"{base}/", timeout=30) as r:
            assert "/map" in r.read().decode("utf-8")
    finally:
        server.shutdown()


def test_static_lib_assets_served_offline(spark, sf_dir, tmp_path):
    """Air-gapped front-end parity (reference static/map.html:8-9 loads
    vendored static/lib/leaflet/*): once scripts/vendor_leaflet.py has
    populated static/lib/, /static/lib/leaflet/leaflet.js serves 200
    with the right content type and no network. Exercised against an
    overriding static root so the test owns its fixture files."""
    docs = load_tables(spark, sf_dir).documents.select("doc_id", "lang")
    path = str(tmp_path / "j")
    export_json(docs, path, partition_col=None)

    static = tmp_path / "static"
    lib = static / "lib" / "leaflet"
    lib.mkdir(parents=True)
    (static / "map.html").write_text("<html>local</html>", encoding="utf-8")
    (lib / "leaflet.js").write_text("var L = {};", encoding="utf-8")
    (lib / "leaflet.css").write_text(".leaflet-container{}", encoding="utf-8")
    (lib / "images").mkdir()
    (lib / "images" / "marker-icon.png").write_bytes(b"\x89PNG\r\n\x1a\n")
    secret = tmp_path / "secret.txt"
    secret.write_text("nope")

    server = serve_wells_http(path, static_dir=str(static))
    try:
        base = f"http://127.0.0.1:{server.server_port}"
        with urllib.request.urlopen(
            f"{base}/static/lib/leaflet/leaflet.js", timeout=30
        ) as r:
            assert r.status == 200
            assert r.headers["Content-Type"].startswith("text/javascript")
            assert r.read() == b"var L = {};"
        with urllib.request.urlopen(
            f"{base}/static/lib/leaflet/leaflet.css", timeout=30
        ) as r:
            assert r.headers["Content-Type"].startswith("text/css")
        with urllib.request.urlopen(
            f"{base}/static/lib/leaflet/images/marker-icon.png", timeout=30
        ) as r:
            assert r.headers["Content-Type"] == "image/png"
        # traversal out of the static root must 404, not leak
        for esc in ("/static/../secret.txt", "/static/%2e%2e/secret.txt"):
            with pytest.raises(urllib.error.HTTPError) as e:
                urllib.request.urlopen(f"{base}{esc}", timeout=30)
            assert e.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(f"{base}/static/lib/absent.js", timeout=30)
        assert e.value.code == 404
    finally:
        server.shutdown()


def test_map_page_prefers_local_leaflet_with_cdn_fallback():
    """The shipped map.html must try /static/lib/leaflet first and only
    fall back to the CDN — the contract vendor_leaflet.py fulfills."""
    import oil_wells_data_wrangling_spark as pkg

    page = open(
        os.path.join(os.path.dirname(pkg.__file__), "static", "map.html"),
        encoding="utf-8",
    ).read()
    assert "/static/lib/leaflet/" in page
    assert "unpkg.com/leaflet" in page  # fallback, not the primary
    assert page.index("/static/lib/leaflet/") < page.index("unpkg.com/leaflet")


def test_streaming_refresh_updates_served_rows(spark, sf_dir, tmp_path):
    """End-to-end incremental serving: file-source events → watermarked
    tumbling agg → partitioned JSON export per micro-batch → live GET
    against the running web tier INSIDE each foreachBatch. The second
    micro-batch must CHANGE the served rows, and the final served state
    must equal the batch operator on the full feed."""
    from oil_wells_data_wrangling_spark.operators.eventops import (
        events_window_agg,
    )
    from oil_wells_data_wrangling_spark.sources.readers import (
        normalize_event_ts,
    )
    from oil_wells_data_wrangling_spark.streaming.events import (
        stream_window_agg,
    )

    ev = load_tables(spark, sf_dir).events
    mid = ev.selectExpr(
        "timestamp_micros(cast(percentile_approx(unix_micros(ts), 0.5)"
        " as bigint)) m"
    ).first()["m"]
    feed = tmp_path / "feed"
    ev.filter(F.col("ts") < F.lit(mid)).coalesce(1).write.parquet(
        str(feed / "a=0")
    )
    ev.filter(F.col("ts") >= F.lit(mid)).coalesce(1).write.parquet(
        str(feed / "a=1")
    )
    stream = normalize_event_ts(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed / "a=*"))
    )

    export_dir = str(tmp_path / "served")
    server = serve_wells_http(export_dir)
    base = f"http://127.0.0.1:{server.server_port}"
    snapshots = []

    def _export_and_probe(batch_df, batch_id):
        export_json(batch_df, export_dir, partition_col="event_type")
        with urllib.request.urlopen(f"{base}/wells", timeout=60) as resp:
            snapshots.append(json.loads(resp.read()))

    try:
        q = (
            stream_window_agg(stream)
            .writeStream.outputMode("complete")
            .foreachBatch(_export_and_probe)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        assert len(snapshots) == 2, "expected one served refresh per batch"
        n1 = sum(r["n_events"] for r in snapshots[0])
        n2 = sum(r["n_events"] for r in snapshots[1])
        assert n2 > n1, "second micro-batch did not change the served rows"

        # final served state == the batch operator on the full feed
        want = {
            (str(r["window_start"]), r["event_type"]): (
                r["n_events"],
                r["total_value"],
            )
            for r in events_window_agg(spark, sf_dir).collect()
        }
        got = {
            (
                str(r["window_start"]).replace("T", " ").rstrip("Z"),
                r["event_type"],
            ): (r["n_events"], r["total_value"])
            for r in snapshots[1]
        }
        norm_want = {
            (k[0].split(".")[0], k[1]): v for k, v in want.items()
        }
        norm_got = {(k[0].split(".")[0], k[1]): v for k, v in got.items()}
        assert norm_got == norm_want

        # the viewport fetch reads one partition directory and agrees
        with urllib.request.urlopen(
            f"{base}/wells?event_type=click", timeout=60
        ) as resp:
            clicks = json.loads(resp.read())
        assert clicks == [r for r in snapshots[1] if r["event_type"] == "click"]
    finally:
        server.shutdown()


def test_wsgi_application_parity_with_http_tier(spark, sf_dir, tmp_path):
    """The WSGI face (reference app.wsgi parity) serves the same rows,
    the same static containment, and the same 404s as the threaded
    HTTP tier — driven through a REAL WSGI server (wsgiref) so the
    streaming iterator path is exercised end-to-end."""
    import urllib.error

    pos = with_coordinates(load_tables(spark, sf_dir).supplier).withColumn(
        "band", (F.col("cell_lat") / 30).cast("int")
    )
    export = pos.drop("cell_lat", "cell_lon")
    path = str(tmp_path / "wells_json")
    export_json(export, path, partition_col="band")
    want = {
        (r["s_suppkey"], r["band"]): (r["lat"], r["lon"])
        for r in export.collect()
    }

    server = _wsgi_server(path)
    try:
        base = f"http://127.0.0.1:{server.server_port}"
        rows = _get(f"{base}/wells")
        got = {
            (r["s_suppkey"], int(r["band"])): (r["lat"], r["lon"])
            for r in rows
        }
        assert got == want
        band = sorted(b for (_, b) in want)[0]
        rows = _get(f"{base}/wells?band={band}")
        assert rows and all(int(r["band"]) == band for r in rows)
        # static pages + containment (the serving.py realpath rule)
        with urllib.request.urlopen(f"{base}/map", timeout=30) as r:
            assert b"leaflet" in r.read().lower()
        for bad in ("/static/../wsgi.py", "/static/%2e%2e/serving.py",
                    "/nope"):
            try:
                with urllib.request.urlopen(base + bad, timeout=30) as r:
                    assert r.status == 404
            except urllib.error.HTTPError as e:
                assert e.code == 404
    finally:
        server.shutdown()

    # the mod_wsgi entry point configures itself from the environment
    from oil_wells_data_wrangling_spark import wsgi as wsgi_mod

    env = {"PATH_INFO": "/wells", "QUERY_STRING": ""}
    status_box = []
    os.environ["OWDW_EXPORT_DIR"] = path
    try:
        body = b"".join(
            wsgi_mod.application(env, lambda s, h: status_box.append(s))
        )
    finally:
        del os.environ["OWDW_EXPORT_DIR"]
    assert status_box == ["200 OK"]
    assert len(json.loads(body)) == len(want)


# Rows whose JSON lines exercise the splice: several part files per
# directory (two records per file), an all-null row (Spark writes '{}'),
# strings with quotes, backslashes, control and non-ASCII characters,
# and partition values Spark writes as the Hive default partition (null)
# or %XX-escapes in the directory name ('a/b', '50%', 'q"uote').
_SPLICE_ROWS = [
    (1, "SHALE-1", 'say "hi"', 1.5),
    (2, "SHALE-1", "back\\slash \\\" mixed", None),
    (3, "SHALE-1", "Ünïcødé — 油井", 2.0),
    (4, "a/b", "tab\tnew\nline", -0.25),
    (5, "50%", None, 3.0),
    (6, 'q"uote', "{not: json}", 4.0),
    (7, "Ünï", "é", 5.0),
    (8, None, "no formation", 6.0),
    (None, None, None, None),
]


@pytest.mark.parametrize("partition_col", ["formation", None])
def test_served_rows_are_the_export_lines(spark, tmp_path, partition_col):
    """Both tiers serve exactly json.loads(line) + the decoded partition
    keys of every exported line — null partitions as null, escaped
    directory names decoded — and ?key=value filters match the decoded
    value the same way on either export layout."""
    df = spark.createDataFrame(
        _SPLICE_ROWS,
        "doc_id int, formation string, name string, depth double",
    ).repartition(2)
    path = str(tmp_path / "splice_json")
    export_json(df, path, partition_col=partition_col, max_records_per_file=2)

    want = _rows_from_export_lines(path)
    # Spark drops a line's null fields; the partition column is always
    # re-attached, null included
    assert _canon(want) == _canon(
        {k: v for k, v in r.asDict().items()
         if v is not None and k != partition_col}
        | ({partition_col: r[partition_col]} if partition_col else {})
        for r in df.collect()
    )
    lines = [
        line.strip()
        for part in (tmp_path / "splice_json").glob("**/part-*.json")
        for line in part.read_bytes().splitlines()
    ]
    assert b"{}" in lines  # the all-null row really is an empty object
    if partition_col:
        dirs = set(os.listdir(path))
        assert {"formation=__HIVE_DEFAULT_PARTITION__", "formation=a%2Fb",
                "formation=50%25"} <= dirs
        shale = os.path.join(path, "formation=SHALE-1")
        assert len([f for f in os.listdir(shale) if f.endswith(".json")]) > 1

    queries = [
        "", "formation=SHALE-1", "formation=a%2Fb", "formation=50%25",
        "formation=q%22uote", "formation=%C3%9Cn%C3%AF", "formation=None",
        "doc_id=3", "no_such_col=zzz",
    ]
    http = serve_wells_http(path)
    wsgi = _wsgi_server(path)
    try:
        for server in (http, wsgi):
            base = f"http://127.0.0.1:{server.server_port}/wells"
            for query in queries:
                got = _get(f"{base}?{query}")
                kv = urllib.parse.parse_qsl(query)
                expect = [
                    r for r in want if all(str(r.get(k)) == v for k, v in kv)
                ]
                assert _canon(got) == _canon(expect), (server, query)
                # every filter but the unknown column selects some rows
                assert expect or query == "no_such_col=zzz"
    finally:
        http.shutdown()
        wsgi.shutdown()


def test_band_fetch_reads_exactly_one_partitions_files(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r14 verdict item 10: the viewport (?band=) fetch must READ only
    the one partition directory, not walk-and-filter — tracked by
    shadowing the serving module's open() and comparing against the
    band directory's exact file inventory."""
    from oil_wells_data_wrangling_spark import serving

    pos = with_coordinates(load_tables(spark, sf_dir).supplier).withColumn(
        "band", (F.col("cell_lat") / 30).cast("int")
    )
    export = pos.drop("cell_lat", "cell_lon")
    path = str(tmp_path / "wells_json")
    export_json(export, path, partition_col="band")
    bands = sorted(r.band for r in export.select("band").distinct().collect())
    assert len(bands) > 1  # pruning is only meaningful with siblings
    band = bands[0]

    opened: list[str] = []
    real_open = open

    def tracking_open(p, *a, **k):
        opened.append(str(p))
        return real_open(p, *a, **k)

    # module-global shadows the builtin inside _iter_json_blocks only
    monkeypatch.setattr(serving, "open", tracking_open, raising=False)
    rows = json.loads(
        b"".join(serving._iter_json_blocks(path, ("band", str(band))))
    )
    assert rows and all(str(r["band"]) == str(band) for r in rows)

    band_dir = os.path.join(path, f"band={band}")
    expected = {
        os.path.join(band_dir, fn)
        for fn in os.listdir(band_dir)
        if fn.startswith("part-") and fn.endswith(".json")
    }
    assert expected, "partition dir unexpectedly empty"
    assert set(opened) == expected  # one partition's files, nothing else


def test_export_layout_pruning_proof_via_footers(spark, sf_dir, tmp_path):
    """r14 verdict item 10, footer half: a parquet rendering of the
    SAME serving layout (range-clustered on the band key) carries the
    pruning proof in its row-group footers — pruning_report reads
    zero overlaps and a band point-predicate maps to exactly one
    file, which is the statistics-level statement of 'the viewport
    fetch is a one-partition read' that holds at any scale."""
    from oil_wells_data_wrangling_spark.sources.parquet_meta import (
        pruning_report,
    )

    pos = with_coordinates(load_tables(spark, sf_dir).supplier).withColumn(
        "band", (F.col("cell_lat") / 30).cast("int")
    )
    export = pos.drop("cell_lat", "cell_lon")
    bands = sorted(r.band for r in export.select("band").distinct().collect())
    pq = str(tmp_path / "wells_pq")
    # range-clustered companion: contiguous band ranges per file (the
    # band column stays IN the files, so footers carry its min/max)
    export.repartitionByRange(len(bands), "band").write.parquet(pq)

    rep = pruning_report(spark, pq, "band", cast="bigint").collect()
    assert len(rep) > 1
    assert all(not r.overlaps_any for r in rep)  # disjoint key ranges
    for band in bands:
        covering = [
            r.file
            for r in rep
            if r.min_value is not None
            and r.min_value <= band <= r.max_value
        ]
        assert len(covering) == 1, (band, covering)
