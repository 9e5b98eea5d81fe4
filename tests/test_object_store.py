"""Object-store execution against an EMULATED S3 (moto server): the
executor-side pyarrow.fs open path that read_warc uses for s3:// URIs,
exercised for real over the wire — range reads, gzip members, multi-file
task layout. This is the reference's posture (amadeus-aws reads S3
objects through the store's API, file.rs:125); Spark-native s3a:// I/O
additionally needs the hadoop-aws jar, which this sandbox doesn't ship
(session.s3_configs documents the routing), so the JVM side is covered
by config-routing tests in test_sources while THIS file covers the
Python-worker data path end-to-end.
"""

from __future__ import annotations

import gzip
import logging

import pytest

boto3 = pytest.importorskip("boto3")
pytest.importorskip("moto")

from amadeus_spark.sources import warc  # noqa: E402
from tests.test_sources import _make_warc  # noqa: E402

BUCKET = "warc-bucket"
KEY_ID, SECRET = "testing", "testing"


@pytest.fixture(scope="module")
def s3_server():
    """In-process moto S3 endpoint + two uploaded WARC objects."""
    from moto.server import ThreadedMotoServer

    logging.getLogger("werkzeug").setLevel(logging.ERROR)
    server = ThreadedMotoServer(ip_address="127.0.0.1", port=0, verbose=False)
    server.start()
    _, port = server.get_host_and_port()
    client = boto3.client(
        "s3",
        endpoint_url=f"http://127.0.0.1:{port}",
        aws_access_key_id=KEY_ID,
        aws_secret_access_key=SECRET,
        region_name="us-east-1",
    )
    client.create_bucket(Bucket=BUCKET)
    plain = _make_warc(
        [
            ("http://a.example/", "192.0.2.1", b"alpha page"),
            ("http://b.example/", "192.0.2.2", b"beta page"),
        ]
    )
    gzipped = gzip.compress(
        _make_warc([("http://c.example/", "192.0.2.3", b"gamma page")])
    )
    client.put_object(Bucket=BUCKET, Key="crawl/f1.warc", Body=plain)
    client.put_object(Bucket=BUCKET, Key="crawl/f2.warc.gz", Body=gzipped)
    yield port
    server.stop()


def _uri(port: int, key: str) -> str:
    # pyarrow.fs.FileSystem.from_uri carries credentials in the
    # authority and endpoint/scheme/region as query params — the whole
    # connection spec rides in the path, so executor workers need no
    # ambient AWS environment (they were forked before the server
    # existed).
    return (
        f"s3://{KEY_ID}:{SECRET}@{BUCKET}/{key}"
        f"?endpoint_override=127.0.0.1:{port}&scheme=http&region=us-east-1"
    )


def test_read_warc_from_object_store(spark, s3_server):
    """read_warc over s3:// URIs: one task per object, each opened in
    the Python worker via pyarrow S3 streaming (never the driver), gzip
    transparently unwrapped — identical rows to the local-file parse."""
    port = s3_server
    df = warc.read_warc(
        spark, [_uri(port, "crawl/f1.warc"), _uri(port, "crawl/f2.warc.gz")]
    )
    rows = {r["url"]: r for r in df.collect()}
    assert set(rows) == {
        "http://a.example/",
        "http://b.example/",
        "http://c.example/",
    }
    assert bytes(rows["http://a.example/"]["contents"]) == b"alpha page"
    assert bytes(rows["http://c.example/"]["contents"]) == b"gamma page"
    assert rows["http://b.example/"]["ip"] == "192.0.2.2"


def _put_all(client, bucket: str, objs: dict[str, bytes]) -> None:
    for key, body in objs.items():
        client.put_object(Bucket=bucket, Key=key, Body=body)


def _client(port: int):
    return boto3.client(
        "s3",
        endpoint_url=f"http://127.0.0.1:{port}",
        aws_access_key_id=KEY_ID,
        aws_secret_access_key=SECRET,
        region_name="us-east-1",
    )


def _keys(client, bucket: str, prefix: str) -> set[str]:
    resp = client.list_objects_v2(Bucket=bucket, Prefix=prefix)
    # zero-byte "dir/" marker objects are pyarrow's directory markers
    # (kept, like the s3a directory.marker.retention=keep posture) —
    # not data
    return {
        o["Key"] for o in resp.get("Contents", []) if not o["Key"].endswith("/")
    }


def test_object_store_read_is_streamed_not_buffered(s3_server):
    """The open returns a STREAM (range/chunked reads), not a whole-
    object buffer: parse a multi-record object directly off the wire
    with the same record iterator the Spark tasks use."""
    port = s3_server
    import pyarrow.fs as pafs

    fs, rel = pafs.FileSystem.from_uri(_uri(port, "crawl/f1.warc"))
    stream = fs.open_input_stream(rel)
    recs = list(warc._record_stream(stream))
    assert [r["url"] for r in recs] == ["http://a.example/", "http://b.example/"]


def test_versioned_commit_race_on_object_store(s3_server):
    """Racing manifest publishes on S3: the conditional PUT
    (If-None-Match: *) makes exactly ONE of N simultaneous writers win
    version 1; every loser raises 'concurrent commit' and the stored
    segment is byte-intact (the winner's, never a torn or last-writer-
    wins overwrite). This closes the exists()+rename window that let
    two racing writers both 'commit' the same version — the silent
    lost-commit hole on the one layer pitched for 100 TB. The publish
    is a pure driver-side HTTP CAS: no Spark session involved (spark
    arg unused on the s3 branch), no lock files, no LogStore service."""
    import threading

    from amadeus_spark.operators import versioned as V

    port = s3_server
    client = _client(port)
    bucket = "commit-race-bucket"
    client.create_bucket(Bucket=bucket)
    q = f"?endpoint_override=127.0.0.1:{port}&scheme=http&region=us-east-1"
    root = f"s3://{KEY_ID}:{SECRET}@{bucket}/table{q}"

    n = 4
    barrier = threading.Barrier(n)
    results: list = [None] * n

    def writer(i: int) -> None:
        manifest = {"version": 1, "writer": i, "add": [], "remove": []}
        barrier.wait()
        try:
            V._write_manifest_atomic(None, root, 1, manifest)
            results[i] = "won"
        except RuntimeError as e:
            assert "concurrent commit" in str(e)
            results[i] = "conflict"

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results.count("won") == 1
    assert results.count("conflict") == n - 1
    # the stored segment is the winner's, intact, and readable through
    # the same pyarrow path every reader uses
    stored = V._read_manifest(None, root, 1)
    assert stored["writer"] == results.index("won")
    # a later retry (commit_with_retry's re-resolve) lands version 2
    V._write_manifest_atomic(None, root, 2, {"version": 2})
    assert _keys(client, bucket, "table/_manifests/") == {
        "table/_manifests/v1.json",
        "table/_manifests/v2.json",
    }


def test_webdataset_write_shards_to_object_store(spark, s3_server):
    """The WRITE half on s3://: write_webdataset_shards PUTs tar
    shards + .index.parquet sidecars straight into a bucket from the
    executor tasks (idempotent deterministic bytes, no driver
    routing, query-string connection spec preserved through path
    splicing), and the written objects round-trip through the
    distributed re-index + ranged fetch, matching the sequential
    layout replay byte-for-byte."""
    import io as _io

    from pyspark.sql import Row

    from amadeus_spark.sources import wds_golden as G
    from amadeus_spark.sources.webdataset import (
        fetch_members,
        read_webdataset_index,
        write_webdataset_shards,
    )

    port = s3_server
    client = _client(port)
    bucket = "wds-write-bucket"
    client.create_bucket(Bucket=bucket)
    q = f"?endpoint_override=127.0.0.1:{port}&scheme=http&region=us-east-1"
    out = f"s3://{KEY_ID}:{SECRET}@{bucket}/corpus{q}"
    df = spark.createDataFrame(
        [
            Row(sample_key=k, slot=s, content=bytearray(c))
            for k, s, c in G.writer_members()
        ],
        "sample_key string, slot string, content binary",
    )
    written = write_webdataset_shards(
        df, out, target_shard_bytes=G.WRITE_TARGET
    ).collect()
    keys = _keys(client, bucket, "corpus/")
    tars = sorted(k for k in keys if k.endswith(".tar"))
    sides = sorted(k for k in keys if k.endswith(".index.parquet"))
    assert len(tars) > 1 and len(sides) == len(tars)
    # re-index the written objects over the wire and compare to the
    # sequential replay — same expectation the local round-trip gate pins
    uris = [f"s3://{KEY_ID}:{SECRET}@{bucket}/{k}{q}" for k in tars]
    idx = read_webdataset_index(spark, uris)
    got = sorted(
        (r["shard"].split("/")[-1].split("?")[0], r["member"],
         r["sample_key"], r["slot"], r["offset"], r["size"])
        for r in idx.collect()
    )
    assert got == sorted(G.expected_written_index())
    # write-time index == over-the-wire re-index (modulo path spelling)
    assert sorted(
        (r["shard"].split("/")[-1].split("?")[0], r["member"], r["offset"])
        for r in written
    ) == sorted((s, m, o) for s, m, _, _, o, _ in got)
    # ranged fetch straight off the bucket
    pay = {
        r["member"]: bytes(r["content"])
        for r in fetch_members(idx).collect()
    }
    assert pay == {n: d for s in G.GOLDEN for n, d in G.members(s)}
    # a sidecar read back through the store agrees with the index rows
    import pyarrow.parquet as pq

    body = client.get_object(Bucket=bucket, Key=sides[0])["Body"].read()
    side_rows = pq.read_table(_io.BytesIO(body)).to_pylist()
    shard0 = tars[0].split("/")[-1]
    assert sorted((r["member"], r["offset"], r["size"]) for r in side_rows) \
        == sorted((m, o, sz) for s, m, _, _, o, sz in got if s == shard0)


def test_webdataset_index_and_fetch_from_object_store(spark, s3_server):
    """WebDataset over s3://: the indexer header-hops a tar OBJECT via
    pyarrow streaming in the Python worker, and fetch_members range-
    reads the payload windows — byte-identical to the golden layout.
    This is the 100 TB ingest posture: shards live in a bucket, tasks
    open their own objects, nothing routes through the driver."""
    from amadeus_spark.sources import wds_golden as G
    from amadeus_spark.sources.webdataset import (
        build_tar,
        fetch_members,
        read_webdataset_index,
    )

    port = s3_server
    client = _client(port)
    shard = "golden-000.tar"
    client.put_object(
        Bucket=BUCKET,
        Key=f"wds/{shard}",
        Body=build_tar(G.members(shard)),
    )
    uri = _uri(port, f"wds/{shard}")
    # explicit list: manifest-driven reads bypass driver-side Hadoop
    # globbing (no s3 scheme in this JVM — the warc s3 posture)
    idx = read_webdataset_index(spark, [uri])
    got = sorted(
        (r["member"], r["offset"], r["size"]) for r in idx.collect()
    )
    exp = sorted(
        (m, o, sz)
        for s, m, _, _, o, sz in G.expected_index()
        if s == shard
    )
    assert got == exp
    fetched = fetch_members(idx).collect()
    pay = {r["member"]: bytes(r["content"]) for r in fetched}
    for name, data in G.members(shard):
        assert pay[name] == data, name


def test_write_sink_multipart_over_cap(s3_server, monkeypatch):
    """A realized shard OVER the single-PUT cap publishes via boto3
    MULTIPART (create/upload_part/complete) — bytes round-trip exactly;
    an under-cap sibling still publishes as one atomic PUT."""
    from amadeus_spark.sources import webdataset as W

    port = s3_server
    client = _client(port)
    bucket = "mpu-bucket"
    client.create_bucket(Bucket=bucket)
    q = f"?endpoint_override=127.0.0.1:{port}&scheme=http&region=us-east-1"
    # real S3 rejects parts under 5 MiB (except the last): keep the
    # genuine part floor and drop only the trigger cap, so the test
    # exercises the very code real oversized shards run
    monkeypatch.setattr(W, "S3_SINGLE_PUT_CAP", 1 << 20)
    monkeypatch.setattr(W, "S3_MULTIPART_PART_BYTES", 5 * (1 << 20))
    payload = bytes(range(256)) * (11 * (1 << 12))  # 11 MiB -> 3 parts
    uri = f"s3://{KEY_ID}:{SECRET}@{bucket}/big/shard-0.tar{q}"
    sink = W._WriteSink(uri)
    sink.write(payload)
    sink.close()
    sink.publish()
    got = client.get_object(
        Bucket=bucket, Key="big/shard-0.tar")["Body"].read()
    assert got == payload
    # no dangling multipart uploads after a successful publish
    pend = client.list_multipart_uploads(Bucket=bucket)
    assert not pend.get("Uploads")
    # under-cap sibling: single PUT path unchanged
    sink2 = W._WriteSink(
        f"s3://{KEY_ID}:{SECRET}@{bucket}/small/shard-1.tar{q}")
    sink2.write(b"tiny")
    sink2.close()
    sink2.publish()
    assert client.get_object(
        Bucket=bucket, Key="small/shard-1.tar")["Body"].read() == b"tiny"


def test_write_sink_multipart_aborts_on_failure(s3_server, monkeypatch):
    """Injected completion failure: the sink ABORTS the multipart
    upload and re-raises — no object becomes visible and no staged
    parts linger (the no-partial-visible-object contract)."""
    from amadeus_spark.sources import webdataset as W

    port = s3_server
    client = _client(port)
    bucket = "mpu-abort-bucket"
    client.create_bucket(Bucket=bucket)
    q = f"?endpoint_override=127.0.0.1:{port}&scheme=http&region=us-east-1"
    monkeypatch.setattr(W, "S3_SINGLE_PUT_CAP", 1 << 20)
    monkeypatch.setattr(W, "S3_MULTIPART_PART_BYTES", 5 * (1 << 20))

    real_client = boto3.client

    def wrapped(*a, **k):
        c = real_client(*a, **k)

        class _Proxy:
            def __getattr__(self, n):
                if n == "complete_multipart_upload":
                    def boom(**kw):
                        raise RuntimeError("injected completion failure")
                    return boom
                return getattr(c, n)

        return _Proxy()

    monkeypatch.setattr(boto3, "client", wrapped)
    uri = f"s3://{KEY_ID}:{SECRET}@{bucket}/big/shard-0.tar{q}"
    sink = W._WriteSink(uri)
    sink.write(bytes(7 * (1 << 20)))  # 7 MiB -> 2 parts
    sink.close()
    with pytest.raises(RuntimeError, match="injected"):
        sink.publish()
    # nothing visible, nothing staged
    listed = client.list_objects_v2(Bucket=bucket)
    assert not listed.get("Contents")
    pend = client.list_multipart_uploads(Bucket=bucket)
    assert not pend.get("Uploads")


def test_webdataset_forced_multipart_e2e(spark, s3_server, monkeypatch):
    """write_webdataset_shards end-to-end with the caps forced low on
    the DRIVER: the closure carries them into the executor tasks (the
    workers' fresh module import never sees a monkeypatch), every
    shard publishes via multipart, and the written objects round-trip
    through the over-the-wire re-index + ranged fetch."""
    from pyspark.sql import Row

    from amadeus_spark.sources import webdataset as W
    from amadeus_spark.sources import wds_golden as G

    port = s3_server
    client = _client(port)
    bucket = "mpu-e2e-bucket"
    client.create_bucket(Bucket=bucket)
    q = f"?endpoint_override=127.0.0.1:{port}&scheme=http&region=us-east-1"
    out = f"s3://{KEY_ID}:{SECRET}@{bucket}/corpus{q}"
    # force EVERY shard over the patched cap; part size stays at the
    # default so each small shard is ONE part — S3 (and moto) exempt
    # the last part from the 5 MiB floor, while the multi-part split
    # itself is covered by the unit test above with real-size parts
    monkeypatch.setattr(W, "S3_SINGLE_PUT_CAP", 64)
    df = spark.createDataFrame(
        [
            Row(sample_key=k, slot=s, content=bytearray(c))
            for k, s, c in G.writer_members()
        ],
        "sample_key string, slot string, content binary",
    )
    W.write_webdataset_shards(
        df, out, target_shard_bytes=G.WRITE_TARGET
    ).collect()
    keys = _keys(client, bucket, "corpus/")
    tars = sorted(k for k in keys if k.endswith(".tar"))
    assert len(tars) > 1
    assert not client.list_multipart_uploads(Bucket=bucket).get("Uploads")
    uris = [f"s3://{KEY_ID}:{SECRET}@{bucket}/{k}{q}" for k in tars]
    idx = W.read_webdataset_index(spark, uris)
    got = sorted(
        (r["shard"].split("/")[-1].split("?")[0], r["member"],
         r["sample_key"], r["slot"], r["offset"], r["size"])
        for r in idx.collect()
    )
    assert got == sorted(G.expected_written_index())
    pay = {
        r["member"]: bytes(r["content"])
        for r in W.fetch_members(idx).collect()
    }
    assert pay == {n: d for s in G.GOLDEN for n, d in G.members(s)}


def test_shallow_clone_from_object_store(spark, s3_server, tmp_path,
                                         monkeypatch):
    """SHALLOW CLONE of an s3-rooted versioned table (r13 verdict item
    #4): zero data objects move — the clone's entries carry absolute
    s3:// URIs, describe_detail counts them as foreign, and vacuum on
    the clone never deletes a source object. Plain s3:// roots reach
    moto via the ambient-credential env (AWS_ENDPOINT_URL — the same
    contract real deployments use); Spark-side scans of the foreign
    refs need hadoop-aws (s3a), absent in this sandbox by design, so
    row-level read equality is pinned by the local-filesystem shallow
    clone tests (tests/test_convert_clone.py) — the manifest mechanics
    here are scheme-independent."""
    import glob
    import os

    from amadeus_spark.operators import versioned as V

    port = s3_server
    monkeypatch.setenv("AWS_ENDPOINT_URL", f"http://127.0.0.1:{port}")
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", KEY_ID)
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", SECRET)
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    monkeypatch.setenv("AWS_EC2_METADATA_DISABLED", "true")
    client = _client(port)
    bucket = "shallow-src-bucket"
    client.create_bucket(Bucket=bucket)
    # build the source table's v0 the manifest-only way: stage parquet
    # locally, harvest entries (footer stats + sizes), upload the data
    # objects, publish the manifest through the same conditional-PUT
    # path every s3 commit uses
    stage = str(tmp_path / "commit-v0-src0")
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS val")
    df.coalesce(2).write.parquet(stage)
    entries = V._file_entries(stage, ["k"])
    for e in entries:
        e["dir"] = "commit-v0-src0"
        with open(os.path.join(stage, e["path"]), "rb") as f:
            client.put_object(
                Bucket=bucket,
                Key=f"tbl/data/commit-v0-src0/{e['path']}",
                Body=f.read(),
            )
    src_root = f"s3://{bucket}/tbl"
    v = V._commit(
        spark, src_root, None, "convert", ["k"],
        add_entries=entries, schema_json_override=df.schema.json(),
        prev={"version": -1, "total_files": 0, "total_rows": 0},
        cdf="none",
    )
    assert v == 0 and V.current_version(spark, src_root) == 0
    keys_before = _keys(client, bucket, "tbl/")
    # ---- the shallow clone: manifest read + local manifest write only
    cl = str(tmp_path / "clone")
    v, nf, nr = V.clone_table(spark, src_root, cl, shallow=True)
    assert (v, nf, nr) == (0, 2, 100)
    # ZERO objects copied or created on either side's data area
    assert _keys(client, bucket, "tbl/") == keys_before
    assert not glob.glob(cl + "/data/**/*.parquet", recursive=True)
    man = V._read_manifest(spark, cl, 0)
    assert all(
        e["dir"] == f"s3://{bucket}/tbl/data/commit-v0-src0"
        for e in man["add"]
    )
    assert man["cloned_from"] == {
        "root": src_root, "version": 0, "shallow": True}
    d = V.describe_detail(spark, cl)
    assert d["foreign_files"] == 2 and d["n_rows"] == 100
    assert d["size_bytes"] > 0  # sizes carried in the entries
    # key-range pruning works off the carried stats without touching s3
    pruned = V._pruned_entries(
        spark, cl, V._resolve(spark, cl, 0), "k", 0, 10)
    assert len(pruned) == 1
    # local writes coexist; vacuum on the clone leaves the source alone
    V.commit_append(
        spark, cl,
        spark.range(200, 210).selectExpr("id AS k", "id * 2 AS val")
        .coalesce(1))
    V.vacuum(spark, cl, keep_last=1, min_staging_age_s=0.0)
    assert _keys(client, bucket, "tbl/") == keys_before
    assert V.describe_detail(spark, cl)["foreign_files"] == 2


def test_arrow_fs_preserves_special_char_object_paths(s3_server):
    """_arrow_fs must address object keys RAW: running the full URI
    through FileSystem.from_uri would percent-decode hive-escaped
    segments (tag=a%3Ab -> tag=a:b reads the wrong key) and reject
    literal spaces (review finding r14). The fs comes from the bucket
    root; the path is appended untouched."""
    from amadeus_spark.operators.versioned import _arrow_fs

    port = s3_server
    client = _client(port)
    bucket = "special-key-bucket"
    client.create_bucket(Bucket=bucket)
    q = f"?endpoint_override=127.0.0.1:{port}&scheme=http&region=us-east-1"
    keys = ["lake/tag=a b/f.parquet", "lake/tag=a%3Ab/f.parquet"]
    for i, key in enumerate(keys):
        client.put_object(Bucket=bucket, Key=key, Body=f"body{i}".encode())
    for i, key in enumerate(keys):
        fs, rel = _arrow_fs(f"s3://{KEY_ID}:{SECRET}@{bucket}/{key}{q}")
        assert fs.open_input_stream(rel).read() == f"body{i}".encode()
