"""The bakerhttp data source: executor-side http(s) ingestion with the
reference's metadata fidelity (input/list.go:142-157 — url is the
ORIGINAL url, last_modified the Last-Modified response header). A live
stdlib http.server backs every test; nothing is spooled through the
driver."""

import gzip
import http.server
import threading
from datetime import datetime

import pyarrow as pa
import pytest

from baker_spark.sources.list_source import ListSource

LASTMOD_HTTP = "Tue, 02 Jan 2024 03:04:05 GMT"
LASTMOD_DT = datetime(2024, 1, 2, 3, 4, 5)


class _Handler(http.server.BaseHTTPRequestHandler):
    #: path -> (bytes, send_last_modified)
    routes: dict = {}

    def do_GET(self):
        entry = self.routes.get(self.path)
        if entry is None:
            self.send_response(404)
            self.end_headers()
            return
        body, with_lastmod = entry
        self.send_response(200)
        if with_lastmod:
            self.send_header("Last-Modified", LASTMOD_HTTP)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # keep pytest output clean
        pass


@pytest.fixture(scope="module")
def http_base():
    plain = b"value1,value2,value3\nvalue4,value2,value6\n"
    _Handler.routes = {
        "/plain.csv": (plain, True),
        "/nolastmod.csv": (b"value5,value2,value3\n", False),
        "/packed.csv.gz": (gzip.compress(b"g1,g2,g3\r\ng4,,\n"), True),
        "/packed.csv.zst": (
            bytes(pa.Codec("zstd").compress(b"z1,z2\n", asbytes=True)),
            True,
        ),
        "/files.list": (None, True),  # filled below with the base url
    }
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    _Handler.routes["/files.list"] = (
        f"{base}/plain.csv\n\n{base}/nolastmod.csv\n".encode(),
        True,
    )
    yield base
    srv.shutdown()


def test_http_rows_and_reference_metadata(spark, http_base):
    url = f"{http_base}/plain.csv"
    df = ListSource(files=[url], fields=["a", "b", "c"]).dataframe(spark)
    rows = sorted((r.a, r.b, r.c, r._bk_url, r._bk_last_modified) for r in df.collect())
    assert rows == [
        ("value1", "value2", "value3", url, LASTMOD_DT),
        ("value4", "value2", "value6", url, LASTMOD_DT),
    ]


def test_http_missing_last_modified_is_null(spark, http_base):
    df = ListSource(
        files=[f"{http_base}/nolastmod.csv"], fields=["a", "b", "c"]
    ).dataframe(spark)
    [row] = df.collect()
    assert row.a == "value5" and row._bk_last_modified is None


def test_http_gzip_and_zstd_decode_in_task(spark, http_base):
    src = ListSource(
        files=[f"{http_base}/packed.csv.gz", f"{http_base}/packed.csv.zst"],
        fields=["a", "b", "c"],
    )
    src.attach_metadata = False
    df = src.dataframe(spark)
    # \r\n handled; short line g4,, -> empty strings; 2-field z line ->
    # NULL third field (PERMISSIVE parity with the csv branch)
    assert sorted(tuple(r) for r in df.collect()) == [
        ("g1", "g2", "g3"),
        ("g4", "", ""),
        ("z1", "z2", None),
    ]


def test_http_listfile_and_mixed_local_union(spark, http_base, tmp_path):
    local = tmp_path / "local.csv"
    local.write_text("l1,l2,l3\n")
    df = ListSource(
        files=[f"@{http_base}/files.list", str(local)], fields=["a", "b", "c"]
    ).dataframe(spark)
    got = sorted((r.a, r._bk_url.split("/")[-1], r._bk_last_modified) for r in df.collect())
    assert [g[0] for g in got] == ["l1", "value1", "value4", "value5"]
    # http rows carry the ORIGINAL url + header time; the local row its path+mtime
    assert got[1][1:] == ("plain.csv", LASTMOD_DT)
    assert got[3][1:] == ("nolastmod.csv", None)
    assert got[0][1] == "local.csv" and got[0][2] is not None


def test_toml_list_input_over_http(spark, http_base):
    """The full TOML surface over a live http List input: MetadataUrl
    must stamp the ORIGINAL url (the reference's api.go metadata), not
    any local path."""
    from baker_spark.plans import compile_toml

    url = f"{http_base}/plain.csv"
    rows = compile_toml(
        f"""
[fields]
names=["a","b","c"]

[input]
name="List"
    [input.config]
    files=["{url}"]

[[filter]]
name="MetadataUrl"
    [filter.config]
    DstField="b"

[output]
name="Recorder"
fields=["a","b","c"]
"""
    ).run(spark)
    assert sorted((r.a, r.b, r.c) for r in rows) == [
        ("value1", url, "value3"),
        ("value4", url, "value6"),
    ]


def test_http_non_200_fails_loudly(spark, http_base):
    df = ListSource(files=[f"{http_base}/absent.csv"], fields=["a"]).dataframe(spark)
    with pytest.raises(Exception, match="404|HTTP Error"):
        df.collect()


def test_http_plan_has_one_partition_per_url(spark, http_base):
    src = ListSource(
        files=[f"{http_base}/plain.csv", f"{http_base}/nolastmod.csv"],
        fields=["a", "b", "c"],
    )
    df = src.dataframe(spark)
    assert df.rdd.getNumPartitions() == 2  # one executor-side fetch per URL
