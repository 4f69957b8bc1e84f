"""HTTP source (S2/S3): loopback-only exercises of the Downloader
semantics — scheme dispatch, HTTP -> temp file, error on non-2xx, and the
manifest fan-out producing the same rows as the direct binaryFile scan.
No external network: the server is an in-process http.server bound to
127.0.0.1 serving a synthesized fixture.
"""

from __future__ import annotations

import http.server
import os
import shutil
import socketserver
import tempfile
import threading

import pytest

from fs2_osm_spark.sources.http_source import (
    download_to_file,
    read_nodes_from_url,
    read_nodes_from_urls,
)
from fs2_osm_spark.sources.pbf_frames import (
    read_nodes_from_frames,
    write_frames,
)
from fs2_osm_spark.sources.proto_wire import encode_primitive_block


@pytest.fixture(scope="module")
def served_fixture():
    """Temp dir with two framed .osm.pbf files served over loopback."""
    d = tempfile.mkdtemp(prefix="http_fx_")
    for i, base in enumerate((1, 1001)):
        block = encode_primitive_block(
            ids=[base, 1, 1],
            lats=[500000000 + i, 1000000, 1000000],
            lons=[80000000, 1000000, 1000000],
            keys_vals=[1, 2, 0, 0, 0],
            string_table=["", "highway", "residential"],
        )
        write_frames(os.path.join(d, f"part-{i}.osm.pbf"), [block])

    import functools

    quiet = type(
        "H", (http.server.SimpleHTTPRequestHandler,),
        {"log_message": lambda *a: None},
    )
    handler = functools.partial(quiet, directory=d)
    httpd = socketserver.TCPServer(("127.0.0.1", 0), handler)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        yield d, f"http://127.0.0.1:{port}"
    finally:
        httpd.shutdown()
        shutil.rmtree(d, ignore_errors=True)


def test_download_to_file_roundtrip(served_fixture):
    d, base_url = served_fixture
    path = download_to_file(f"{base_url}/part-0.osm.pbf")
    try:
        with open(path, "rb") as got, open(
            os.path.join(d, "part-0.osm.pbf"), "rb"
        ) as want:
            assert got.read() == want.read()
    finally:
        os.unlink(path)


def test_download_404_raises(served_fixture):
    _, base_url = served_fixture
    with pytest.raises(RuntimeError, match="HTTP 404"):
        download_to_file(f"{base_url}/missing.osm.pbf")


def test_http_url_equals_direct_scan(spark, served_fixture):
    d, base_url = served_fixture
    direct = {
        (r.osm_id, r.lon, r.lat)
        for r in read_nodes_from_frames(spark, os.path.join(d, "part-0.osm.pbf"))
        .collect()
    }
    via_http = {
        (r.osm_id, r.lon, r.lat)
        for r in read_nodes_from_url(spark, f"{base_url}/part-0.osm.pbf").collect()
    }
    assert via_http == direct
    assert len(direct) == 3


def test_file_scheme_dispatch(spark, served_fixture):
    d, _ = served_fixture
    rows = read_nodes_from_url(spark, f"file://{d}/part-0.osm.pbf").collect()
    assert len(rows) == 3


def test_manifest_fanout_matches_direct(spark, served_fixture):
    d, base_url = served_fixture
    urls = [f"{base_url}/part-0.osm.pbf", f"{base_url}/part-1.osm.pbf"]
    via_manifest = {
        (r.osm_id, r.lon, r.lat)
        for r in read_nodes_from_urls(spark, urls).collect()
    }
    direct = {
        (r.osm_id, r.lon, r.lat)
        for r in read_nodes_from_frames(spark, d).collect()
    }
    assert via_manifest == direct
    assert len(direct) == 6
