"""HTTP source for framed .osm.pbf extracts (S2/S3).

Reference shape (core/src/main/scala/fs2/osm/core/Downloader.scala):
- ``Downloader.apply`` (:17-21) dispatches on URI scheme — ``file`` reads
  the local path, anything else streams the HTTP response body;
- ``Downloader.toFile`` (:36-47) streams an HTTP body into a temp file and
  returns its path, raising on a non-2xx response (:49-53).

Spark-first re-expression: a single URL is fetched driver-side through a
temp file (removed once read) into the scanner's entity kernel (the faithful
S3 path). The SCALE path is ``read_nodes_from_urls``: real extracts are
distributed as many per-region files, so the natural 100 TB shape is a
MANIFEST of URLs — one fetch+decode per task, executor-side, no driver
byte-shuffling. PBF frames cannot be split at arbitrary byte offsets
(each blob is length-prefixed and zlib-compressed), so parallelism comes
from file count, exactly like the binaryFile scan path (S1).

Only loopback/file URLs are exercised in this repo (the task permits no
external data); the transport is standard urllib and works unchanged
against any HTTP server.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import urllib.error
import urllib.parse
import urllib.request

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from fs2_osm_spark.rowmap import map_rows

_CHUNK = 1 << 20


def download_to_file(url: str, dest_dir: str | None = None) -> str:
    """S3: stream a URL into a temp file, return the path
    (Downloader.toFile, Downloader.scala:36-47). file:// and plain paths
    short-circuit to a copy so callers get a uniform temp-file contract.
    Raises on non-2xx like the reference's handleError (:49-53)."""
    scheme = urllib.parse.urlparse(url).scheme or "file"
    fd, path = tempfile.mkstemp(
        suffix=".osm.pbf", dir=dest_dir, prefix="download_"
    )
    try:
        if scheme == "file":
            src = urllib.parse.urlparse(url).path or url
            with os.fdopen(fd, "wb") as out, open(src, "rb") as f:
                shutil.copyfileobj(f, out, _CHUNK)
        else:
            with os.fdopen(fd, "wb") as out, urllib.request.urlopen(url) as resp:
                if not 200 <= resp.status < 300:
                    raise RuntimeError(f"HTTP {resp.status} for {url}")
                shutil.copyfileobj(resp, out, _CHUNK)
    except urllib.error.HTTPError as e:  # urlopen raises on 4xx/5xx
        os.unlink(path)
        raise RuntimeError(f"HTTP {e.code} for {url}") from e
    except Exception:
        if os.path.exists(path):
            os.unlink(path)
        raise
    return path


def _fetch(url: str) -> bytes:
    """The whole body of ``url``, through a temp file that is gone on
    return."""
    path = download_to_file(url)
    try:
        with open(path, "rb") as f:
            return f.read()
    finally:
        os.unlink(path)


def read_nodes_from_url(spark: SparkSession, url: str) -> DataFrame:
    """S2 single-extract path: scheme dispatch per Downloader.apply
    (:17-21) — file URLs scan directly; an HTTP body is fetched eagerly on
    the driver (the temp file is removed at once) and its bytes go through
    the same PBF entity kernel as a scanned file."""
    from fs2_osm_spark.sources.pbf_frames import (
        ENTITY_SCHEMA,
        entity_nodes,
        file_entities,
        read_nodes_from_frames,
    )

    scheme = urllib.parse.urlparse(url).scheme or "file"
    if scheme == "file":
        return read_nodes_from_frames(
            spark, urllib.parse.urlparse(url).path or url
        )
    content = spark.createDataFrame([(_fetch(url),)], "content binary")
    return entity_nodes(map_rows(content, ["content"], file_entities, ENTITY_SCHEMA))


def read_nodes_from_urls(spark: SparkSession, urls: list[str]) -> DataFrame:
    """S2 at scale: manifest of extract URLs -> one fetch+decode per task.

    Each task streams ITS OWN url to executor-local disk and runs the
    file through the PBF entity kernel (the one ``read_entities`` maps over
    binaryFile contents), keeping the node rows — bytes never transit the
    driver, and parallelism equals manifest length (matching how mirror
    sites actually publish planet extracts: one file per region)."""
    from fs2_osm_spark.sources.pbf_frames import (
        ENTITY_SCHEMA,
        entity_nodes,
        file_entities,
    )

    manifest = spark.createDataFrame(
        pd.DataFrame({"url": urls})
    ).repartition(max(1, min(len(urls), spark.sparkContext.defaultParallelism)))

    def kernel(url):
        return file_entities(_fetch(url))

    return entity_nodes(map_rows(manifest, ["url"], kernel, ENTITY_SCHEMA))
