"""Log-structured versioned tables — snapshot isolation, time travel,
and stats-pruned copy-on-write upserts on plain parquet ("Delta-lite").

Beyond the reference (its storage model is stateless file scans,
SURVEY §1.3); included because a 100 TB training-data pipeline is an
INCREMENTAL system: the corpus is re-ingested, re-deduped and re-mixed
daily, and consumers (snapshot_diff, incremental near-dup, shard
export) need a consistent snapshot while writers land the next
version. This module supplies the minimal, public table-format
contract the lakehouse formats (Delta/Iceberg/Hudi) standardize,
with Delta's LOG SHAPE so the metadata path itself scales to 10^6
files:

- a table is ``root/data/commit-*/`` parquet directories plus a
  ``root/_manifests/`` commit log;
- each commit publishes ONE small JSON segment ``vN.json`` holding
  only that commit's DELTA — the files it ADDS (with per-file row
  counts and per-column min/max stats) and the files it REMOVES —
  plus the table schema, txn high-water marks, and running totals.
  Commit bytes are O(batch), never O(table);
- every ``CHECKPOINT_EVERY`` commits the full live-file index is also
  written as a PARQUET checkpoint (``ckpt-vN.parquet``, one row per
  file, typed min/max stat maps) by a distributed Spark job. Readers
  resolve a version as: nearest checkpoint ≤ v (a DataFrame scan)
  + the ≤ CHECKPOINT_EVERY JSON segments after it — the driver never
  materializes the full file list to plan a pruned read or a merge;
- file skipping (read-side ``key_range`` and merge-side rewrite
  pruning) is a DataFrame FILTER over that index, so at 10^6 files
  the pruning work itself is distributed; only the surviving file
  paths are collected;
- readers resolve a snapshot (latest or pinned ``version=``) and read
  exactly its files — writers never mutate visible state;
- commits are optimistic: the commit version is PINNED to the
  writer's resolved snapshot and the segment is PUBLISHED
  fail-if-exists, so any interposed commit collides on the version
  file and surfaces as a 'concurrent commit' conflict (retryable via
  commit_with_retry) instead of being silently absorbed. On local
  filesystems the publish is an ``os.link`` (atomic EEXIST on POSIX —
  plain rename OVERWRITES on file://); on s3:// / s3a:// it is an
  S3 CONDITIONAL PUT (``If-None-Match: *`` — native server-side
  compare-and-swap; race test in tests/test_object_store.py); on
  hdfs:// a Hadoop rename onto a checked-absent destination;
- data lands under a UNIQUE staging directory name
  (``commit-vN-<uuid>``) recorded in the manifest: a crashed writer
  leaves an orphan directory that can never collide with a future
  commit's write (vacuum reclaims it), and a commit that fails or
  loses the race without publishing deletes every dir it staged;
- upserts are copy-on-write at FILE granularity: index stats prune
  the rewrite set to files whose key range intersects the update, so
  a 1%-of-keys update rewrites ~1% of files; untouched files are
  carried into the new snapshot BY REFERENCE (zero data movement,
  zero manifest bytes — they are simply not removed);
- DELETE/UPDATE also come in MERGE-ON-READ form (``mode="dv"`` —
  Delta's deletion vectors): the matched rows' physical identities
  ((commit dir, file, row_index)) land in a parquet under
  ``root/_deletion_vectors/`` and the touched entries re-commit by
  reference with the DV attached; every reader goes through ONE
  shared path (:func:`_snapshot_read`) that anti-joins the DV rows,
  rewrite consumers (upsert/merge/optimize) physically purge DVs as
  a side effect of rewriting, and vacuum reclaims DV dirs no kept
  snapshot references. Deleting 100 rows from a terabyte of files
  moves O(100) rows, not O(files).

Stats live in the log, not in footers-at-read-time: at 100 TB,
opening 10^6 footers to plan a merge is itself a job; footers are
read once, at commit time, for the commit's own files only.

CDF RETENTION CONTRACT (Delta's semantics): ``vacuum`` reclaims
change-data directories outside the keep window WITHOUT consulting
stream checkpoints. A ``stream_table_changes`` consumer lagging past
the keep window silently loses the vacuumed commits' change rows (the
file source simply never lists them) and keeps running on later
commits — size ``keep_last`` to cover the slowest consumer's lag
(pinned by tests/test_versioned.py::
test_vacuum_undrained_changefeed_documented_loss).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re as _re
import time as _time
import uuid
import warnings

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as _st

from amadeus_spark.operators.storage import _hadoop_fs

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
CDF_DIR = "_change_data"
DV_DIR = "_deletion_vectors"
BLOOM_DIR = "_bloom"

#: Write a parquet checkpoint of the full live-file index every this
#: many commits. Between checkpoints a reader folds at most this many
#: small JSON segments — the knob trades commit-time checkpoint cost
#: against read-time segment folding (Delta's checkpointInterval).
CHECKPOINT_EVERY = 16

#: One row per live data file. Min/max stats are kept in TYPE-SPLIT
#: maps (int / double / string) so pruning compares in the column's
#: native order inside a Catalyst filter — a single stringly-typed map
#: would order 9 > 10.
#: "bytes" is LAST so pre-upgrade checkpoints (written without it)
#: read NULL through the explicit schema instead of misaligning
_INDEX_SCHEMA = (
    "dir string, path string, rows bigint, "
    "stats_i map<string, array<bigint>>, "
    "stats_d map<string, array<double>>, "
    "stats_s map<string, array<string>>, "
    "dv_dir string, dv_rows bigint, bytes bigint"
)


#: Broadcast-hint budget for commit-path joins, in CELLS (rows x
#: columns) — the hint fires only when the build side's row count is
#: KNOWN on the driver (a bounds/agg collect already paid for, or
#: manifest entry totals), never from optimizer estimates (guide §3.1:
#: estimates after filters are unreliable; measured counts are not).
#: 1M cells of key/identity data ≈ 10-30 MB built — comfortably inside
#: executor memory at any deployment size; larger batches keep the
#: shuffled join. NOT a local-only knob: a CDC/merge micro-batch is
#: small at 100 TB scale too, and the explicit hint removes the big
#: side's exchange (and AQE's per-stage materialization jobs) that the
#: estimate-blind planner would pay.
_BC_CELLS = 1_000_000


def _bc(df: DataFrame, n_rows, n_cols: int = 1) -> DataFrame:
    """Broadcast-hint ``df`` when its DRIVER-KNOWN size (``n_rows`` x
    ``n_cols``, None = unknown) fits the `_BC_CELLS` budget; identity
    otherwise. Semantics-free: only the join strategy changes."""
    if n_rows is not None and n_rows * max(n_cols, 1) <= _BC_CELLS:
        return F.broadcast(df)
    return df


def _q(name: str) -> str:
    """A column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(s: str) -> str:
    """A Python string as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _ddl(dt) -> str:
    """A DataType as a SQL type for ``CAST`` — ``simpleString`` with
    struct field names quoted (they may hold any character)."""
    if isinstance(dt, _st.StructType):
        return "struct<" + ",".join(
            f"{_q(f.name)}:{_ddl(f.dataType)}" for f in dt.fields
        ) + ">"
    if isinstance(dt, _st.ArrayType):
        return f"array<{_ddl(dt.elementType)}>"
    if isinstance(dt, _st.MapType):
        return f"map<{_ddl(dt.keyType)},{_ddl(dt.valueType)}>"
    return dt.simpleString()


def _fuse_ok(root: str) -> bool:
    """True when the fused data+CDF write applies: directory rename is
    a cheap METADATA move on local/HDFS-like filesystems, so one Spark
    job can stage both halves under a tag partition and the driver
    renames them into place. Object stores rename by COPY — they keep
    the two-write path."""
    scheme = root.split("://", 1)[0] if "://" in root else ""
    return scheme in ("", "file", "hdfs")


def _stage_names(cols, *bases: str) -> list[str]:
    """``bases`` behind an underscore run no column of ``cols`` starts
    with: the SQL legs reference a staged column by name, so it must
    never shadow a table column."""
    pre = "__"
    while any(c.startswith(pre) for c in cols):
        pre += "_"
    return [pre + b for b in bases]


def _emit_legs(df: DataFrame, names: list[str], legs: list[tuple]) -> DataFrame:
    """Every output row of a commit from ONE pass over ``df``: each
    ``(cond, change_type, values)`` leg emits, for each row where the
    SQL ``cond`` holds, the SQL ``values`` as columns ``names`` plus
    ``_change_type`` (NULL for a DATA row, else the change type) — one
    ``inline(filter(array(IF(cond, named_struct(..)), ..)))``
    projection (Delta's MERGE output shape). N filtered copies of one
    frame would re-plan its upstream (broadcasts, scans, cache stages)
    once per copy. Data legs alone carry no ``_change_type`` column; a
    lone data leg is a plain filter + select."""
    tagged = any(change_type is not None for _, change_type, _ in legs)
    if len(legs) == 1 and not tagged:
        cond, _, vals = legs[0]
        out = df if cond == "true" else df.where(cond)
        return out.selectExpr(
            *[f"{v} AS {_q(n)}" for v, n in zip(vals, names)]
        )
    arms = []
    for cond, change_type, vals in legs:
        fields = ", ".join(
            f"{_sql_str(n)}, {v}" for n, v in zip(names, vals)
        )
        if tagged:
            fields += ", '_change_type', " + (
                "CAST(NULL AS STRING)" if change_type is None
                else _sql_str(change_type)
            )
        arms.append(f"IF({cond}, named_struct({fields}), NULL)")
    return df.selectExpr(
        f"inline(filter(array({', '.join(arms)}), x -> x IS NOT NULL))"
    )


def _commit_frame(parts: list[tuple], names: list[str], cons: dict) -> DataFrame:
    """The one output frame of a copy-on-write commit (for
    ``_commit(cdf="tagged")``, or its plain data frame when no leg is
    a change leg): the union of :func:`_emit_legs` over each ``(frame,
    legs)`` of ``parts``, a leg extended by ``chk``, SQL true on the
    rows the CHECK constraints ``cons`` must validate — the data rows
    the commit changed or inserted (pass-through rows passed at their
    original write, change rows are copies). ONE chain gated on it
    runs over the union; _commit runs no CHECK of its own."""
    chk_col = _stage_names(names, "chk")[0]
    out_names = names + ([chk_col] if cons else [])
    out = None
    for df, legs in parts:
        f = _emit_legs(df, out_names, [
            (cond, ct, vals + ([chk] if cons else []))
            for cond, ct, vals, chk in legs
        ])
        out = f if out is None else out.unionByName(
            f, allowMissingColumns=True
        )
    if cons:
        out = _enforce_constraints(out, cons, gate=chk_col).drop(chk_col)
    return out


def _fused_write(
    spark: SparkSession,
    legs: DataFrame,
    version: int,
    commit_dir: str,
    cdf_path: str,
) -> None:
    """ONE job writes a commit's data rows AND its change rows (guide
    §2.4 — both come from one upstream, and sequential writes paid a
    second job launch + a second pass over it): ``legs`` is the tagged
    frame of :func:`_emit_legs` (``_change_type`` NULL = data row),
    written partitioned by a reserved tag column to a unique staging
    dir, each leg's directory then renamed into its home. Data files
    gain two all-NULL trailing columns (``_change_type`` /
    ``_commit_version``) — invisible to every consumer because reads
    plan the explicit manifest schema (:func:`_reader`); change files
    carry the two-write path's columns. An empty leg
    still yields its directory (narrow commits must stay readable; the
    CDF contract expects the dir)."""
    tag = "__cdf"
    fused = legs.selectExpr(
        "*",
        f"IF(_change_type IS NULL, NULL, CAST({int(version)} AS BIGINT)) "
        "AS _commit_version",
        f"IF(_change_type IS NULL, 'd', 'c') AS {tag}",
    )
    tmp = _fuse_dir(commit_dir)
    fused.write.partitionBy(tag).mode("errorifexists").parquet(tmp)
    fs, _ = _hadoop_fs(spark, tmp)
    for leg, dst in (("d", commit_dir), ("c", cdf_path)):
        src = _jpath(spark, f"{tmp}/{tag}={leg}")
        dstp = _jpath(spark, dst)
        fs.mkdirs(dstp.getParent())
        if fs.exists(src):
            if not fs.rename(src, dstp):
                raise RuntimeError(
                    f"fused commit rename failed: {src} -> {dst}"
                )
        else:
            fs.mkdirs(dstp)
    fs.delete(_jpath(spark, tmp), True)


def _fuse_dir(commit_dir: str) -> str:
    """Where :func:`_fused_write` stages the tagged frame of the commit
    whose data dir is ``commit_dir``."""
    return f"{os.path.dirname(commit_dir)}/fuse-{os.path.basename(commit_dir)}"


def _jpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _arrow_fs(uri: str):
    """pyarrow ``(fs, path)`` for a table URI. ``s3a://`` — the JVM/
    Hadoop spelling Spark writes through — maps to pyarrow's native
    ``s3://`` client over the SAME objects (the read_warc streaming
    posture; pyarrow rejects the s3a scheme outright). Local paths go
    straight to LocalFileSystem, NEVER through from_uri — URI parsing
    rejects legal path characters (a hive partition dir like
    ``tag=a b`` carries a literal space; hive escapes only
    ``"#%'*/:=?``-class chars)."""
    from pyarrow import fs as pafs

    if uri.startswith("s3a://"):
        uri = "s3://" + uri[len("s3a://"):]
    elif uri.startswith("file://"):
        return pafs.LocalFileSystem(), uri[len("file://"):]
    elif "://" not in uri:
        return pafs.LocalFileSystem(), os.path.abspath(uri)
    # object stores: build the fs from the BUCKET root (credentials in
    # the authority, connection spec in the query string) and append
    # the object path RAW — running the full uri through from_uri
    # would percent-DECODE hive-escaped path segments (tag=a%3Ab →
    # tag=a:b addresses the wrong key) and reject literal spaces,
    # the same legal-path-character problem as the local branch
    scheme, _, rest = uri.partition("://")
    query = ""
    if "?" in rest:
        rest, q = rest.split("?", 1)
        query = f"?{q}"
    authority, _, sub = rest.partition("/")  # creds@bucket
    fs, base_rel = pafs.FileSystem.from_uri(
        f"{scheme}://{authority}{query}"
    )
    if sub:
        return fs, f"{base_rel.rstrip('/')}/{sub}"
    return fs, base_rel


def _is_local(root: str) -> bool:
    return "://" not in root or root.startswith("file://")


def _local_path(p: str) -> str:
    return p[len("file://"):] if p.startswith("file://") else p


def _sub_uri(root: str, rel: str) -> str:
    """``root``/``rel`` with any query string kept at the END — object-
    store roots carry the connection spec (endpoint/scheme/region) as
    query params, so naive concatenation would splice the path INTO the
    region value."""
    if "?" in root:
        base, q = root.split("?", 1)
        return f"{base.rstrip('/')}/{rel}?{q}"
    return f"{root.rstrip('/')}/{rel}"


#: log features THIS reader understands (Delta's protocol
#: readerFeatures, as a flat ratchet): every commit records the union
#: of the features its SNAPSHOT uses; a reader meeting an unknown one
#: refuses loudly instead of silently misreading — the checkpoint
#: index has an explicit schema, so a future feature's extra columns
#: would otherwise just be dropped on the floor mid-resolve
_SUPPORTED_FEATURES = {
    "deletion-vectors",
    "column-mapping",
    "check-constraints",
    "bloom-index",
    "foreign-refs",
    "hive-paths",
}


def _read_manifest(spark: SparkSession, root: str, version: int) -> dict:
    """One commit's log segment (schema/txn/op/totals + add/remove
    deltas) — O(batch) bytes, NOT the full file list. Refuses a
    segment whose ``features`` ratchet names a capability this reader
    lacks (see ``_SUPPORTED_FEATURES``) — failing loudly HERE beats
    resurrecting DV'd rows or misreading physical names deep inside a
    query. Pre-ratchet segments (no ``features``) read as legacy."""
    fs, rel = _arrow_fs(_sub_uri(root, f"{MANIFEST_DIR}/v{version}.json"))
    with fs.open_input_file(rel) as f:
        m = json.loads(f.read().decode("utf-8"))
    unknown = set(m.get("features", [])) - _SUPPORTED_FEATURES
    if unknown:
        raise RuntimeError(
            f"{root} v{version} requires log features this reader "
            f"does not support: {sorted(unknown)} — upgrade "
            "amadeus_spark before touching this table"
        )
    return m


def _is_s3(root: str) -> bool:
    return root.startswith("s3://") or root.startswith("s3a://")


def _commit_ts(spark: SparkSession, root: str, version: int) -> float:
    """Wall-clock commit time (epoch seconds) of ``version``: the
    manifest's ``ts`` field, falling back to the manifest FILE's
    modification time for pre-``ts`` tables (Delta's fallback when
    commitInfo lacks a timestamp)."""
    m = _read_manifest(spark, root, version)
    if "ts" in m:
        return float(m["ts"])
    fs, rel = _arrow_fs(_sub_uri(root, f"{MANIFEST_DIR}/v{version}.json"))
    mtime = fs.get_file_info(rel).mtime
    return mtime.timestamp() if mtime is not None else 0.0


def _s3_split(uri: str):
    """Parse an ``s3://`` / ``s3a://`` object URI of the repo's
    connection-spec-in-the-path form (credentials in the authority,
    endpoint/scheme/region as query params — the same shape
    :func:`_arrow_fs` feeds ``pyarrow.fs.FileSystem.from_uri``) into
    ``(boto3 client kwargs, bucket, key)``. A bare
    ``s3://bucket/key`` yields empty kwargs → ambient credentials."""
    from urllib.parse import parse_qs, unquote, urlsplit

    sp = urlsplit(uri if uri.startswith("s3://") else "s3://" + uri[len("s3a://"):])
    q = {k: v[0] for k, v in parse_qs(sp.query).items()}
    kwargs: dict = {}
    if sp.username:
        # percent-decode to match pyarrow's FileSystem.from_uri: a key
        # with %-encoded chars must authenticate identically on the
        # read path (pyarrow) and the conditional-PUT path (boto3)
        kwargs["aws_access_key_id"] = unquote(sp.username)
        kwargs["aws_secret_access_key"] = unquote(sp.password or "")
    if "endpoint_override" in q:
        scheme = q.get("scheme", "https")
        kwargs["endpoint_url"] = f"{scheme}://{q['endpoint_override']}"
    if "region" in q:
        kwargs["region_name"] = q["region"]
    # bucket from netloc, NOT .hostname (which lowercases): AWS buckets
    # are lowercase by rule, but emulators/other stores may not be —
    # keep the read path (pyarrow, case-preserving) and this in lockstep
    bucket = sp.netloc.rpartition("@")[2].partition(":")[0]
    return kwargs, bucket, sp.path.lstrip("/")


def _s3_put_if_absent(uri: str, payload: bytes) -> None:
    """Conditional PUT (``If-None-Match: *``) — S3's native
    compare-and-swap (GA Aug 2024; the primitive Delta's S3 commit
    coordinator exists to approximate). Exactly one of N racing
    writers succeeds; every loser gets HTTP 412, surfaced as the
    'concurrent commit' conflict. No lock files, no LogStore service."""
    import boto3
    from botocore.exceptions import ClientError

    kwargs, bucket, key = _s3_split(uri)
    client = boto3.client("s3", **kwargs)
    try:
        client.put_object(
            Bucket=bucket, Key=key, Body=payload, IfNoneMatch="*"
        )
    except ClientError as e:
        status = e.response.get("ResponseMetadata", {}).get("HTTPStatusCode")
        code = e.response.get("Error", {}).get("Code", "")
        if status == 412 or code in ("PreconditionFailed", "ConditionalRequestConflict"):
            raise RuntimeError(
                f"concurrent commit: {uri} already exists"
            ) from e
        raise


def _write_manifest_atomic(
    spark: SparkSession, root: str, version: int, manifest: dict
) -> None:
    """Publish a segment fail-if-exists: the loser of a commit race
    gets a 'concurrent commit' error, never a silent overwrite.

    Local filesystems: write-temp + ``os.link`` — link(2) is atomic
    and fails EEXIST on POSIX. (Hadoop's RawLocalFileSystem.rename
    DELEGATES to rename(2), which happily replaces an existing
    destination, so the rename discipline that protects HDFS gives no
    protection on file://.) Object stores (s3:// / s3a://): a
    CONDITIONAL PUT (If-None-Match: *) — S3-native compare-and-swap,
    atomic server-side; the exists()+rename window that used to be the
    best-available here let two racing writers both "commit" the same
    version (race test: tests/test_object_store.py). Other remote
    filesystems (hdfs://): Hadoop create-temp + rename onto a
    checked-absent destination (atomic-no-overwrite on HDFS)."""
    payload = json.dumps(manifest).encode("utf-8")
    if _is_s3(root):
        try:
            import boto3  # noqa: F401
        except ImportError:
            pass  # no boto3 → fall through to Hadoop best-available
        else:
            _s3_put_if_absent(
                _sub_uri(root, f"{MANIFEST_DIR}/v{version}.json"), payload
            )
            return
    if _is_local(root):
        mdir = _local_path(f"{root}/{MANIFEST_DIR}")
        os.makedirs(mdir, exist_ok=True)
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "wb") as f:
            f.write(payload)
        try:
            os.link(tmp, os.path.join(mdir, f"v{version}.json"))
        except FileExistsError:
            raise RuntimeError(
                f"concurrent commit: version {version} already exists "
                f"at {mdir}"
            )
        finally:
            os.unlink(tmp)
        return
    fs, _ = _hadoop_fs(spark, root)
    mdir = f"{root}/{MANIFEST_DIR}"
    fs.mkdirs(_jpath(spark, mdir))
    tmp = _jpath(spark, f"{mdir}/.tmp-{uuid.uuid4().hex}.json")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(payload))
    finally:
        out.close()
    final = _jpath(spark, f"{mdir}/v{version}.json")
    if fs.exists(final) or not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise RuntimeError(
            f"concurrent commit: version {version} already exists at {mdir}"
        )


def _list_log(spark: SparkSession, root: str) -> tuple[set[int], set[int]]:
    """One listing of the log dir → (segment versions, checkpoint
    versions). O(versions), the same cost class as Delta's log
    listing. ``s3://`` roots list through pyarrow (the Python-side
    layer that owns that scheme — manifest I/O already does), so the
    manifest-only surfaces (current_version, version_as_of, shallow
    clone) work without hadoop-aws jars; ``s3a://`` stays on the
    Hadoop FS API the JVM owns."""
    segs: set[int] = set()
    ckpts: set[int] = set()
    if root.startswith("s3://"):
        from pyarrow import fs as pafs

        afs, rel = _arrow_fs(_sub_uri(root, MANIFEST_DIR))
        names = [
            os.path.basename(i.path.rstrip("/"))
            for i in afs.get_file_info(
                pafs.FileSelector(rel, allow_not_found=True)
            )
        ]
    else:
        fs, _ = _hadoop_fs(spark, root)
        mdir = _jpath(spark, f"{root}/{MANIFEST_DIR}")
        if not fs.exists(mdir):
            return segs, ckpts
        names = [
            status.getPath().getName() for status in fs.listStatus(mdir)
        ]
    for name in names:
        try:
            if name.startswith("v") and name.endswith(".json"):
                segs.add(int(name[1:-5]))
            elif name.startswith("ckpt-v") and name.endswith(".parquet"):
                ckpts.add(int(name[len("ckpt-v"):-len(".parquet")]))
        except ValueError:
            continue
    return segs, ckpts


def _ckpt_path(root: str, version: int) -> str:
    return f"{root}/{MANIFEST_DIR}/ckpt-v{version}.parquet"


def _ckpt_complete(spark: SparkSession, root: str, version: int) -> bool:
    """A checkpoint is only trusted with its _SUCCESS marker — a
    crashed checkpoint write degrades readers to folding more
    segments, never to a partial file list."""
    if root.startswith("s3://"):
        from pyarrow import fs as pafs

        afs, rel = _arrow_fs(
            _sub_uri(root, f"{MANIFEST_DIR}/ckpt-v{version}.parquet/_SUCCESS")
        )
        return afs.get_file_info(rel).type == pafs.FileType.File
    fs, _ = _hadoop_fs(spark, root)
    return fs.exists(_jpath(spark, f"{_ckpt_path(root, version)}/_SUCCESS"))


def current_version(spark: SparkSession, root: str) -> int:
    """Latest committed version, or -1 for a nonexistent table."""
    segs, _ = _list_log(spark, root)
    return max(segs, default=-1)


def _head(spark: SparkSession, root: str) -> int:
    """Latest committed version of a table that must exist."""
    cur = current_version(spark, root)
    if cur < 0:
        raise FileNotFoundError(f"no versioned table at {root}")
    return cur


def _stat_jsonable(v):
    """Manifest stats must survive json.dumps AND compare consistently
    with query bounds: native JSON scalars pass through; NAIVE
    date/datetime become ISO strings (lexicographic order ==
    chronological order, and :func:`_bound` maps query values into the
    same form). TZ-AWARE datetimes return None — pyarrow surfaces
    UTC-adjusted parquet timestamps (e.g. outputTimestampType=
    TIMESTAMP_MICROS) as tz-aware, whose isoformat carries a '+00:00'
    suffix and sits in a different frame than the naive session-local
    datetimes Spark's collect() feeds _bound; comparing the two
    misorders even equal instants, which silently mis-prunes merges
    (stale rows survive). No stats = the file is never pruned — the
    CONSERVATIVE direction, like every other unsupported type (bytes,
    Decimal, ...), never a crash after the data already landed."""
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        return None  # bool min/max is useless for range pruning
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        return None if v.tzinfo is not None else v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return None


def _bound(v):
    """Map a pruning-bound value into manifest-stats space (see
    :func:`_stat_jsonable`). A tz-aware bound is normalized to naive
    UTC — best effort against TIMESTAMP_NTZ stats; tz-aware COLUMNS
    carry no stats at all, so no pruning decision rides on it."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def _manifest_schema(man: dict):
    """StructType from the segment's stored schema."""
    sj = man.get("schema")
    if not sj:
        return None
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(sj))


def _col_mapping(man: dict) -> dict:
    """The segment's COLUMN MAPPING (Delta's columnMapping, name mode):
    ``{logical name -> physical parquet name}``, SPARSE — only columns
    whose physical name differs are listed. Physical names are frozen
    at column birth; RENAME moves the logical name over the same
    physical (metadata-only), DROP removes the logical name and
    tombstones the physical (``dropped_physical``) so a later re-add
    of the same logical name gets a FRESH physical and can never
    resurrect old values. Pre-mapping manifests return {} — the
    zero-cost legacy path (physical == logical everywhere)."""
    return dict(man.get("column_mapping", {}))


def _phys_name(man: dict, logical: str) -> str:
    return man.get("column_mapping", {}).get(logical, logical)


def _physical_schema(man: dict):
    """The manifest schema with every field under its PHYSICAL name —
    what the parquet files actually store; scans plan against this."""
    schema = _manifest_schema(man)
    if schema is None:
        return None
    mapping = man.get("column_mapping", {})
    if not mapping:
        return schema
    return _st.StructType(
        [
            _st.StructField(
                mapping.get(f.name, f.name), f.dataType, f.nullable
            )
            for f in schema.fields
        ]
    )


def _to_logical(df: DataFrame, man: dict) -> DataFrame:
    """Rename a physically-planned frame back to LOGICAL names; columns
    outside the mapping (identity/meta staging) pass through. No-op
    (no projection at all) for unmapped tables."""
    mapping = man.get("column_mapping", {})
    if not mapping or df is None:
        return df
    p2l = {p: l for l, p in mapping.items()}
    return df.toDF(*[p2l.get(c, c) for c in df.columns])


def _to_physical(df: DataFrame | None, mapping: dict) -> DataFrame | None:
    """Rename a logically-named frame to the PHYSICAL names it is
    written under (columns outside ``mapping`` keep theirs)."""
    if df is None or not any(c in mapping for c in df.columns):
        return df
    return df.toDF(*[mapping.get(c, c) for c in df.columns])


def _reader(spark: SparkSession, man: dict):
    """The one schema-evolution read contract: plan against the
    manifest schema when recorded (mixed-vintage files agree on
    columns, old files read NULL for later-added ones, no footer
    merging), plain reader for pre-schema manifests. Plans against the
    PHYSICAL schema — callers surfacing rows to users rename through
    :func:`_to_logical` (on unmapped tables the two are identical)."""
    schema = _physical_schema(man)
    return spark.read.schema(schema) if schema is not None else spark.read


def _evolve_schema(prev_json: str | None, new_struct) -> str:
    """Widen-only schema evolution at commit time: the table schema is
    the previous schema plus any NEW columns this commit adds — a
    commit whose frame is NARROWER than the table (an insert-only CDC
    batch, a partial append) must not silently drop columns table-wide
    for every reader planning against the manifest. A TYPE change on
    an existing column raises HERE, before any data lands: storing it
    would brick every subsequent read of older files at scan time
    ('Parquet column cannot be converted'), discovered only after the
    bad version is already current."""
    from pyspark.sql.types import StructType

    if not prev_json:
        return new_struct.json()
    prev_struct = StructType.fromJson(json.loads(prev_json))
    prev_by_name = {f.name: f for f in prev_struct.fields}
    for f in new_struct.fields:
        pf = prev_by_name.get(f.name)
        # compare the PHYSICAL type (simpleString) — nullability flags
        # on nested fields legitimately differ between frames that
        # write byte-identical parquet, and the manifest schema reads
        # everything nullable anyway
        if pf is not None and (
            pf.dataType.simpleString() != f.dataType.simpleString()
        ):
            # a frame NARROWER than a widened table is fine: the files
            # land narrow and read upcast through the wide manifest
            # schema — exactly the type-widening read contract (old
            # writers keep working after widen_column_type; nested and
            # decimal positions widen by the same recursion)
            if _widen_allowed(f.dataType, pf.dataType):
                continue
            wider = _widen_allowed(pf.dataType, f.dataType)
            raise ValueError(
                f"type change for column {f.name!r}: table has "
                f"{pf.dataType.simpleString()}, commit has "
                f"{f.dataType.simpleString()} — "
                + (
                    "run widen_column_type first (lossless widening)"
                    if wider
                    else "versioned tables only ADD columns; rewrite "
                    "into a new table to retype"
                )
            )
    merged = list(prev_struct.fields) + [
        f for f in new_struct.fields if f.name not in prev_by_name
    ]
    return StructType(merged).json()


def _require_full_rows(table_schema, update_cols: list[str], what: str) -> None:
    """Upserts REPLACE the whole row: an update batch that omits an
    existing table column would silently write NULL into it for every
    updated key (allowMissingColumns fills the gap both ways) — a
    malformed feed must raise, not destroy. Updates may still ADD
    columns (schema evolution is widen-only)."""
    if table_schema is None:
        return
    missing = [f.name for f in table_schema.fields if f.name not in update_cols]
    if missing:
        raise ValueError(
            f"{what} omits existing table columns {missing}: an upsert "
            "replaces the WHOLE row — carry them (explicit NULLs if "
            "intended); only NEW columns may be introduced"
        )


def _file_entries(commit_dir: str, stats_cols: list[str]) -> list[dict]:
    """Per-file rows + min/max stats from the just-written footers —
    read ONCE at commit time (bounded by the commit's file count),
    then served from the log forever. Stats come from PARQUET LEAF
    columns matched by their dotted path (a top-level primitive's path
    is its name) — matching by arrow top-level position misaligns as
    soon as any earlier column is nested, silently attributing a struct
    field's min/max to the wrong column and corrupting every pruning
    decision downstream."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    fs, rel = _arrow_fs(commit_dir)
    entries = []
    for info in fs.get_file_info(pafs.FileSelector(rel)):
        if not info.path.endswith(".parquet"):
            continue
        md = pq.ParquetFile(fs.open_input_file(info.path)).metadata
        stats: dict[str, list] = {}
        if md.num_row_groups and stats_cols:
            leaf_paths = [
                md.row_group(0).column(ci).path_in_schema
                for ci in range(md.num_columns)
            ]
            for name in stats_cols:
                if name not in leaf_paths:
                    continue  # nested/absent column -> no stats
                ci = leaf_paths.index(name)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        mins, maxs = [], []
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
                if mins:
                    lo = _stat_jsonable(min(mins))
                    hi = _stat_jsonable(max(maxs))
                    if lo is not None and hi is not None:
                        stats[name] = [lo, hi]
        entries.append(
            {
                "path": os.path.basename(info.path),
                "dir": os.path.basename(commit_dir.rstrip("/")),
                "rows": md.num_rows,
                # physical size from the SAME listing (free): lets
                # incremental OPTIMIZE pick small files from the index
                # instead of one driver fs call per live file
                "bytes": info.size,
                "stats": stats,
            }
        )
    return entries


# ---------------------------------------------------------------- log
# resolution: nearest checkpoint + the bounded segment suffix


def _require_plain_root(root: str, what: str) -> None:
    """Spark/Hadoop path resolution treats ``?`` as a glob char — the
    query-param connection-spec form the manifest I/O supports
    (pyarrow/boto3 side, see _sub_uri) CANNOT ride into any surface
    that reads or writes DATA through Spark or deletes through the
    Hadoop FileSystem. Refuse loudly at entry instead of failing deep
    inside Hadoop's glob handling; configure the object store on the
    SparkSession (session.py config profiles) and pass the bare URI.
    Manifest-only surfaces (current_version, version_as_of, history,
    the CAS publish) still accept query-string roots."""
    if "?" in root:
        raise ValueError(
            f"{what} requires a plain (no query-string) root: Spark "
            "data paths cannot carry the connection spec — configure "
            "the filesystem on the SparkSession and pass the bare "
            f"table URI (got {root!r})"
        )


def _resolve(spark: SparkSession, root: str, version: int) -> dict:
    """Resolve a snapshot: read segment JSONs from ``version`` back to
    the nearest usable base (a complete parquet checkpoint or a
    ``remove_all`` rewrite commit) — at most CHECKPOINT_EVERY small
    reads — and fold their add/remove deltas driver-side. The
    checkpoint itself is NOT read here; it stays a lazy DataFrame
    (see :func:`_index_df`). Returns::

        {"seg": <version's segment>,  # schema / txn / op / totals
         "ckpt": int | None,          # checkpoint base to scan, if any
         "adds": [entry...],          # live files added since base
         "ckpt_removes": [[dir, path]...]}  # files removed from base
    """
    _require_plain_root(root, "snapshot resolution")
    seg = _read_manifest(spark, root, version)
    _, ckpts = _list_log(spark, root)
    base = max((c for c in ckpts if c <= version), default=None)
    if base is not None and not _ckpt_complete(spark, root, base):
        # fall back past an incomplete (crashed) checkpoint
        base = max(
            (
                c
                for c in ckpts
                if c < base and _ckpt_complete(spark, root, c)
            ),
            default=None,
        )
    if base == version:
        return {"seg": seg, "ckpt": base, "adds": [], "ckpt_removes": []}
    chain = [seg]
    w = version
    while (
        not chain[-1].get("remove_all")
        and w > 0
        and (base is None or w > base + 1)
    ):
        w -= 1
        chain.append(_read_manifest(spark, root, w))
    chain.reverse()  # oldest first
    # a rewrite commit (optimize) resets the file set: start the fold
    # there and ignore both the checkpoint and anything older
    for i in range(len(chain) - 1, -1, -1):
        if chain[i].get("remove_all"):
            chain = chain[i:]
            base = None
            break
    alive: dict[tuple[str, str], dict] = {}
    ckpt_removes: list[list[str]] = []
    for s in chain:
        for d, p in s.get("remove", []):
            if (d, p) in alive:
                del alive[(d, p)]
            elif base is not None:
                ckpt_removes.append([d, p])
        for e in s.get("add", []):
            alive[(e["dir"], e["path"])] = e
    return {
        "seg": seg,
        "ckpt": base,
        "adds": list(alive.values()),
        "ckpt_removes": ckpt_removes,
    }


def _entry_row(e: dict) -> tuple:
    """Split an entry's JSON stats {col: [lo, hi]} into the type-split
    maps of _INDEX_SCHEMA (a column's min/max lands in exactly one)."""
    si: dict[str, list] = {}
    sd: dict[str, list] = {}
    ss: dict[str, list] = {}
    for col, (lo, hi) in (e.get("stats") or {}).items():
        if isinstance(lo, bool):
            continue
        if isinstance(lo, int) and isinstance(hi, int):
            si[col] = [lo, hi]
        elif isinstance(lo, (int, float)) and isinstance(hi, (int, float)):
            sd[col] = [float(lo), float(hi)]
        elif isinstance(lo, str) and isinstance(hi, str):
            ss[col] = [lo, hi]
    dv = e.get("dv") or {}
    return (
        e["dir"], e["path"], e["rows"], si or None, sd or None, ss or None,
        dv.get("dir"), dv.get("rows"), e.get("bytes"),
    )


def _index_df(spark: SparkSession, root: str, res: dict) -> DataFrame:
    """The live-file index of a resolved snapshot as a DataFrame:
    checkpoint parquet (distributed scan) minus the removes since it
    (small broadcast anti-join) plus the adds since it (small local
    relation). Pruning filters THIS — the driver never holds the full
    file list."""
    adds = res["adds"]
    adds_df = (
        spark.createDataFrame([_entry_row(e) for e in adds], _INDEX_SCHEMA)
        if adds
        else None
    )
    if res["ckpt"] is None:
        return adds_df if adds_df is not None else spark.createDataFrame(
            [], _INDEX_SCHEMA
        )
    ck = spark.read.schema(_INDEX_SCHEMA).parquet(
        _ckpt_path(root, res["ckpt"])
    )
    if res["ckpt_removes"]:
        rm = spark.createDataFrame(
            res["ckpt_removes"], "dir string, path string"
        )
        ck = ck.join(F.broadcast(rm), ["dir", "path"], "left_anti")
    return ck.unionByName(adds_df) if adds_df is not None else ck


def _prune(index: DataFrame, key_col: str, lo, hi) -> DataFrame:
    """Keep files whose [min,max] for ``key_col`` intersects [lo, hi],
    files with no stats for it, and files whose stats live in a map of
    a different type than the bound (conservative: never prune on a
    comparison the engine can't order natively)."""
    numeric = isinstance(lo, (int, float)) and not isinstance(lo, bool)
    textual = isinstance(lo, str)

    def hit(m):
        arr = F.col(m).getItem(key_col)
        ok = (
            (arr.getItem(0) <= F.lit(hi)) & (F.lit(lo) <= arr.getItem(1))
            if (numeric if m != "stats_s" else textual)
            else F.lit(True)
        )
        return arr.isNotNull(), ok

    i_has, i_ok = hit("stats_i")
    d_has, d_ok = hit("stats_d")
    s_has, s_ok = hit("stats_s")
    return index.filter(
        F.when(i_has, i_ok)
        .when(d_has, d_ok)
        .when(s_has, s_ok)
        .otherwise(F.lit(True))
    )


def _entry_hit(e: dict, key_col: str, lo, hi) -> bool:
    """Driver-side twin of :func:`_prune` with IDENTICAL semantics
    (keep when no stats, keep when the stat type can't be compared to
    the bound natively, else closed-interval intersection) — the
    no-checkpoint fast path's predicate. Parity with _prune is pinned
    by test_driver_prune_matches_index_prune."""
    bounds = (e.get("stats") or {}).get(key_col)
    if not bounds:
        return True
    slo, shi = bounds
    if isinstance(slo, bool) or isinstance(shi, bool):
        return True
    numeric = isinstance(lo, (int, float)) and not isinstance(lo, bool)
    if isinstance(slo, str) and isinstance(shi, str):
        if not isinstance(lo, str):
            return True
    elif isinstance(slo, (int, float)) and isinstance(shi, (int, float)):
        if not numeric:
            return True
    else:
        return True
    return slo <= hi and lo <= shi


def _pruned_refs(
    spark: SparkSession,
    root: str,
    res: dict,
    key_col: str | None = None,
    lo=None,
    hi=None,
) -> list[tuple]:
    """File refs ``(dir, path, rows)`` of a resolved snapshot,
    optionally pruned to ``[lo, hi]`` on ``key_col``. HYBRID pruning:
    a snapshot with no checkpoint base has its full entry list ALREADY
    on the driver (the bounded segment fold) — filtering it through a
    DataFrame would launch a Spark job to scan a handful of in-memory
    rows (~0.5 s of pure job-launch overhead per merge/read, measured
    on the cdc_apply round-trip). Checkpointed snapshots — the
    10^6-file regime the checkpoint exists for — go through the index
    DataFrame so the driver only ever touches SURVIVORS."""
    return [
        (e["dir"], e["path"], e["rows"])
        for e in _pruned_entries(spark, root, res, key_col, lo, hi)
    ]


def _row_entry(r) -> dict:
    """Index-DataFrame row -> entry dict (the inverse of _entry_row)."""
    stats: dict[str, list] = {}
    for m in ("stats_i", "stats_d", "stats_s"):
        for col, bounds in (r[m] or {}).items():
            stats[col] = list(bounds)
    e = {"dir": r["dir"], "path": r["path"], "rows": r["rows"],
         "stats": stats}
    if r["bytes"] is not None:
        e["bytes"] = r["bytes"]
    if r["dv_dir"] is not None:
        e["dv"] = {"dir": r["dv_dir"], "rows": r["dv_rows"]}
    return e


def _pruned_entries(
    spark: SparkSession,
    root: str,
    res: dict,
    key_col: str | None = None,
    lo=None,
    hi=None,
    slim: bool = False,
) -> list[dict]:
    """Full entry dicts (dir/path/rows/stats/dv) of a resolved
    snapshot, optionally pruned — same hybrid driver/index routing as
    :func:`_pruned_refs` (which is now a thin view over this).
    ``slim=True`` (read paths: they only need identity/rows/dv) skips
    collecting the three per-file stats maps through the checkpoint
    index — at the 10^6-file regime the hot read path must not pay
    driver deserialization for stats it discards; only writers that
    RE-ADD entries (DV legs, restore) need the full form."""
    if key_col is not None:
        # entry stats are keyed by PHYSICAL parquet names; callers
        # pass logical ones (no-op on unmapped tables)
        key_col = _phys_name(res["seg"], key_col)
    if res["ckpt"] is None:
        adds = res["adds"]
        if lo is not None and key_col is not None:
            adds = [e for e in adds if _entry_hit(e, key_col, lo, hi)]
        return list(adds)
    index = _index_df(spark, root, res)
    if lo is not None and key_col is not None:
        index = _prune(index, key_col, lo, hi)
    if slim:
        out = []
        for r in index.select(
            "dir", "path", "rows", "dv_dir", "dv_rows"
        ).collect():
            e = {"dir": r["dir"], "path": r["path"], "rows": r["rows"]}
            if r["dv_dir"] is not None:
                e["dv"] = {"dir": r["dv_dir"], "rows": r["dv_rows"]}
            out.append(e)
        return out
    return [_row_entry(r) for r in index.collect()]


def _live_entries(spark: SparkSession, root: str, version: int) -> list[dict]:
    """Full live-file entry list of a snapshot, collected to the
    driver. O(files) BY DESIGN — only for maintenance (vacuum) and
    tests; queries and merges go through :func:`_index_df`."""
    res = _resolve(spark, root, version)
    return [_row_entry(r) for r in _index_df(spark, root, res).collect()]


# ------------------------------------------------------- bloom index
# per-FILE Bloom filters for point-lookup file skipping (Delta's bloom
# filter index): min/max stats cannot prune an equality probe on a
# high-cardinality column whose values span every file (a uuid/doc_id
# needle in a 100 TB haystack hits every [min,max] interval). A small
# per-file bitmap answers "can this file possibly hold v?" and prunes
# the scan to the files that might. Bitmaps live in SIDECAR parquet
# under _bloom/<commit-dir>/ — never in the manifest JSON (a 1 MB
# bitmap per file would bloat every segment read; Delta keeps its
# index beside the data for the same reason) — written by ONE
# distributed job per data commit and read back distributed at lookup
# time, so no bitmap ever transits the driver.


def _bloom_canon(col: Column, dtype) -> Column:
    """The TYPE-STABLE hash input: integral columns hash through a
    canonical BIGINT cast so widen_column_type(int→bigint) cannot
    split the hash space between old files' bitmaps and new probes
    (xxhash64 hashes int and long differently); strings hash as-is.
    set_bloom_index restricts cols to exactly these families."""
    return col.cast("bigint") if isinstance(
        dtype, (_st.ByteType, _st.ShortType, _st.IntegerType, _st.LongType)
    ) else col


#: bitmap size ceiling (bits) — a pathological 100M-row file degrades
#: to a higher fp rate instead of a 120 MB sidecar row (stays correct:
#: a bloom false positive only costs an extra file scan)
_BLOOM_MAX_BITS = 1 << 27

_BLOOM_SIDECAR_SCHEMA = (
    "dir string, path string, col string, m bigint, k bigint, w binary"
)


def _write_bloom_sidecar(
    spark: SparkSession,
    root: str,
    commit_dir: str,
    spec: dict,
    fresh: list[dict],
    schema,
    present_cols: set[str],
) -> None:
    """Build per-(file, column) Bloom bitmaps for the files just staged
    under ``commit_dir`` and write them as sidecar parquet at
    ``_bloom/<commit-dir name>/`` — one distributed job: hashes are
    computed JVM-side (xxhash64 over the canonical cast), partial
    bitmaps accumulate per input partition (mapInPandas — an input
    split covers ~one file, so partials rarely straddle), and the
    per-file OR-merge shuffles only bitmap rows, never data. Sizing is
    per file from its entry row count (``optimal_params``), capped at
    ``_BLOOM_MAX_BITS``. NULLs are never indexed (xxhash64(NULL) would
    alias a phantom value — rows carry an is-not-null flag instead and
    drop before positioning); a column absent from the staged frame
    (narrow writer) produces no rows, which the lookup reads as "all
    NULL here" and prunes — correct, not conservative. ``spec`` cols
    are PHYSICAL names (the staged files' own). ``present_cols`` is
    the staged frame's column set — the caller has it in hand, so no
    footer re-read decides narrow-writer coverage."""
    import numpy as np
    import pandas as pd

    from amadeus_spark.functions.bloom import (
        H2_SEED, _positions, optimal_params,
    )

    caps = {
        e["path"]: e["rows"] for e in fresh if e["rows"] > 0
    }
    dirname = os.path.basename(commit_dir.rstrip("/"))
    # MARKER rows (path="") record which columns were IN THE SPEC when
    # this dir was indexed: "no (file, col) row" only means "all NULL
    # here" for a column the build actually looked for. Without them,
    # growing the spec later (set_bloom_index with an extra column)
    # would make old sidecars read as all-NULL for the new column and
    # silently prune files that DO hold its values — a false negative,
    # the one failure mode the index must never have. A dir whose
    # markers lack the probed column is kept conservatively.
    markers = [
        (dirname, "", c, 0, 0, b"") for c in spec.get("cols", [])
    ]
    # narrow writers may omit spec cols
    present = present_cols if caps else set()
    cols = [c for c in spec.get("cols", []) if c in present]
    if not caps or not cols:
        # the sidecar dir must EXIST even when there is nothing to
        # index (0-row files / a narrow writer omitting every spec
        # col): its files hold no value of any indexed column, and
        # the lookup reads an existing-dir-with-no-row as exactly
        # that — an absent dir would read as "pre-index, keep"
        spark.createDataFrame(markers, _BLOOM_SIDECAR_SCHEMA).coalesce(
            1
        ).write.mode("errorifexists").parquet(
            f"{root}/{BLOOM_DIR}/{dirname}"
        )
        return
    fpp = float(spec.get("fpp", 0.05))
    params = {}
    for p, n in caps.items():
        m, k = optimal_params(n, fpp)
        params[p] = (min(m, _BLOOM_MAX_BITS), k)
    by_name = {f.name: f.dataType for f in schema.fields} if schema else {}
    sel = [
        F.substring_index(
            F.col("_metadata.file_path"), "/", -1
        ).alias("__f")
    ]
    for i, c in enumerate(cols):
        canon = _bloom_canon(F.col(c), by_name.get(c))
        sel += [
            F.xxhash64(canon).alias(f"h1_{i}"),
            F.xxhash64(canon, F.lit(H2_SEED)).alias(f"h2_{i}"),
            F.col(c).isNotNull().alias(f"v_{i}"),
        ]
    df = spark.read.parquet(commit_dir).select(*sel)

    def _partial(batches):
        acc: dict[tuple[str, str], np.ndarray] = {}
        for pdf in batches:
            for i, c in enumerate(cols):
                live = pdf[pdf[f"v_{i}"]]
                if len(live) == 0:
                    continue
                for fname, grp in live.groupby("__f", sort=False):
                    m, k = params.get(fname, (0, 0))
                    if m == 0:
                        continue  # 0-row entry can't appear; safety
                    key = (fname, c)
                    bm = acc.get(key)
                    if bm is None:
                        bm = acc[key] = np.zeros(m // 64, dtype=np.uint64)
                    pos = _positions(
                        grp[f"h1_{i}"].to_numpy(np.int64),
                        grp[f"h2_{i}"].to_numpy(np.int64),
                        k, m,
                    ).ravel()
                    np.bitwise_or.at(
                        bm, pos >> np.uint64(6),
                        np.uint64(1) << (pos & np.uint64(63)),
                    )
        if acc:
            yield pd.DataFrame(
                {
                    "path": [f for f, _ in acc],
                    "col": [c for _, c in acc],
                    "w": [bm.tobytes() for bm in acc.values()],
                }
            )

    pmap = params  # closure capture for the merge stage

    def _merge(pdf):  # no type hints: pd is function-local here, and
        # pyspark resolves string hints against MODULE globals
        fname, c = pdf["path"].iloc[0], pdf["col"].iloc[0]
        m, k = pmap[fname]
        bm = np.zeros(m // 64, dtype=np.uint64)
        for w in pdf["w"]:
            bm |= np.frombuffer(w, dtype=np.uint64)
        return pd.DataFrame(
            {
                "dir": [dirname], "path": [fname], "col": [c],
                "m": [m], "k": [k], "w": [bm.tobytes()],
            }
        )

    (
        df.mapInPandas(_partial, schema="path string, col string, w binary")
        .groupBy("path", "col")
        .applyInPandas(_merge, schema=_BLOOM_SIDECAR_SCHEMA)
        .unionByName(
            spark.createDataFrame(markers, _BLOOM_SIDECAR_SCHEMA)
        )
        .write.mode("errorifexists")
        .parquet(f"{root}/{BLOOM_DIR}/{dirname}")
    )


def _bloom_probe_hash_cols(probes: list, dtype):
    """(h1_array, h2_array) literal-hash COLUMNS for the probe values —
    xxhash64 over literals is deterministic, so Catalyst constant-folds
    the arrays at optimization time: the hashes are still computed by
    the SAME JVM implementation as the build side (bit-identical, no
    Python xxhash reimplementation to drift) but ride the membership
    job's plan instead of costing a separate probe-hash job (r15: one
    job per point lookup saved)."""
    from amadeus_spark.functions.bloom import H2_SEED

    integral = isinstance(
        dtype, (_st.ByteType, _st.ShortType, _st.IntegerType, _st.LongType)
    )
    for v in probes:
        if integral and not isinstance(v, int):
            raise ValueError(
                f"key_in probe {v!r} does not match the integral column "
                "type — pass Python ints"
            )
        if isinstance(dtype, _st.StringType) and not isinstance(v, str):
            raise ValueError(
                f"key_in probe {v!r} does not match the string column "
                "type — pass strings"
            )
    lits = [
        F.lit(v).cast("bigint") if integral else F.lit(v) for v in probes
    ]
    return (
        F.array(*[F.xxhash64(c) for c in lits]),
        F.array(*[F.xxhash64(c, F.lit(H2_SEED)) for c in lits]),
    )


def _bloom_refine(
    spark: SparkSession,
    root: str,
    entries: list[dict],
    phys_col: str,
    probes: list,
    dtype,
) -> list[dict]:
    """Drop entries whose sidecar bitmap proves NONE of the probe
    values can be in the file. Entries without a sidecar (pre-index
    commits, by-reference foreign/adopted files) are KEPT — the index
    accelerates, never changes results. The membership test runs
    DISTRIBUTED over the candidate dirs' sidecar rows (bitmaps stay
    executor-side; only per-file booleans collect); a sidecar'd dir
    whose MARKER rows name the column but that has no (file, col)
    bitmap row means the column was all-NULL there — pruned, by
    construction not conservatism — while a dir indexed under a spec
    that did NOT include the column (markers lack it) is kept."""
    fs, _ = _hadoop_fs(spark, root)
    bdir = _jpath(spark, f"{root}/{BLOOM_DIR}")
    if not fs.exists(bdir):
        return entries
    indexed = {st.getPath().getName() for st in fs.listStatus(bdir)}
    cand_dirs = sorted(
        {
            e["dir"]
            for e in entries
            if not _is_abs_dir(e["dir"]) and e["dir"] in indexed
        }
    )
    if not cand_dirs:
        return entries
    h1_col, h2_col = _bloom_probe_hash_cols(probes, dtype)

    from amadeus_spark.functions.bloom import _positions

    def _may(batches):
        # ONE pass serves both row kinds (a second action would double
        # the job-launch overhead on the point-lookup hot path):
        # bitmap rows get a membership verdict; MARKER rows (path="")
        # pass through with may=NULL and split driver-side. The probe
        # hashes arrive as CONSTANT-FOLDED literal array columns
        # (__h1/__h2) — same JVM xxhash64 as the build side, zero
        # extra jobs.
        import numpy as _n
        import pandas as _p

        for pdf in batches:
            out = []
            h1s = h2s = None
            for pi, wi, mi, ki, h1l, h2l in zip(
                pdf["path"], pdf["w"], pdf["m"], pdf["k"],
                pdf["__h1"], pdf["__h2"],
            ):
                if pi == "":
                    out.append(None)
                    continue
                if h1s is None:
                    h1s = _n.asarray(h1l, dtype=_n.int64)
                    h2s = _n.asarray(h2l, dtype=_n.int64)
                bm = _n.frombuffer(wi, dtype=_n.uint64)
                pos = _positions(h1s, h2s, int(ki), int(mi))
                word = pos >> _n.uint64(6)
                bit = _n.uint64(1) << (pos & _n.uint64(63))
                out.append(
                    bool(((bm[word] & bit) != 0).all(axis=1).any())
                )
            yield _p.DataFrame(
                {"dir": pdf["dir"], "path": pdf["path"], "may": out}
            )

    rows = (
        spark.read.schema(_BLOOM_SIDECAR_SCHEMA)
        .parquet(*[f"{root}/{BLOOM_DIR}/{d}" for d in cand_dirs])
        .where(F.col("col") == phys_col)
        .withColumn("__h1", h1_col)
        .withColumn("__h2", h2_col)
        .mapInPandas(_may, schema="dir string, path string, may boolean")
        .collect()
    )
    # dirs whose build-time spec covered this column (marker rows):
    # only for those does "no bitmap row" mean "all NULL — prune"
    covered = {r["dir"] for r in rows if r["path"] == ""}
    verdict = {
        (r["dir"], r["path"]): r["may"] for r in rows if r["path"] != ""
    }
    return [
        e
        for e in entries
        if e["dir"] not in indexed
        or _is_abs_dir(e["dir"])
        or e["dir"] not in covered
        or verdict.get((e["dir"], e["path"]), False)
    ]


def _is_abs_dir(d: str) -> bool:
    """Clone-by-reference entries carry an ABSOLUTE commit-dir URI
    (the source table's data dir); table-local entries a bare name."""
    return "://" in d or d.startswith("/")


def _dir_uri(root: str, d: str) -> str:
    """Physical location of a commit dir: table-local under
    root/data/, foreign (shallow-clone) dirs verbatim."""
    return d if _is_abs_dir(d) else f"{root}/{DATA_DIR}/{d}"


def _dv_uri(root: str, d: str) -> str:
    """Physical location of a deletion-vector dir (same foreign/local
    split as :func:`_dir_uri`)."""
    return d if _is_abs_dir(d) else f"{root}/{DV_DIR}/{d}"


def _ident_key(e: dict) -> tuple[str, str]:
    """The (dir, path) an entry's rows carry in _metadata-derived
    identity space: the segment after the owning table's ``data/``.
    Table-local entries are their own key; a foreign entry's files
    still live under the SOURCE's data/, so its derived dir is the
    source staging dir's BASENAME."""
    d = e["dir"]
    if _is_abs_dir(d):
        d = os.path.basename(d.rstrip("/"))
    return d, e["path"]


def _ident_map(refs: list[dict], what: str) -> dict[tuple, dict]:
    """identity key -> entry, for mapping scan-derived row identities
    back to snapshot entries (DV staging, touched-file finding).
    Raises on the (improbable) basename collision between a foreign
    dir and another entry — identity would be ambiguous; compaction
    localizes the files and clears it."""
    out: dict[tuple, dict] = {}
    for e in refs:
        key = _ident_key(e)
        if key in out:
            raise ValueError(
                f"{what}: ambiguous physical identity {key} (a clone-"
                "by-reference dir's basename collides with another "
                "entry) — run optimize() to localize the files first"
            )
        out[key] = e
    return out


def _paths(root: str, refs) -> list[str]:
    return [f"{_dir_uri(root, d)}/{p}" for d, p in refs]


def _rm(entries: list[dict]) -> list[tuple[str, str]]:
    return [(e["dir"], e["path"]) for e in entries]


def _nrows(entries: list[dict]) -> int:
    return sum(e["rows"] for e in entries)


def _dv_debit(entries: list[dict]) -> tuple[int, int]:
    """(dv files, dv rows) carried by these entries — what their
    removal debits from the manifest's running DV-debt totals."""
    return (
        sum(1 for e in entries if e.get("dv")),
        sum((e.get("dv") or {}).get("rows", 0) for e in entries),
    )


#: physical row identity staged by _snapshot_read(keep_identity=True):
#: (commit dir, file name, row index within the file)
_ID_COLS = ("__dv_dir", "__dv_path", "__dv_ri")

# the identity derived from the file path, RELATIVE to the owning
# table's data/ dir (greedy regexp → LAST "/data/"; hive segments are
# "k=v", never a bare "data", so the last one is the real anchor):
# dir = first segment, path = the rest — equal to the old (-2 segment,
# file name) derivation on flat layouts, and equal to entry (dir, path)
# on hive layouts, which keeps DV anti-joins exact for both.
# _metadata.file_path is URI-ENCODED ("tag=a b" surfaces as
# "tag=a%20b"): percent-decode back into entry-path space, protecting
# literal "+" first (url_decode is java URLDecoder, which would turn
# it into a space; encoding never creates "/" so the split stays safe)
_REL_SQL = (
    "url_decode(replace(regexp_extract(_metadata.file_path, "
    f"'^.*/{DATA_DIR}/(.+)$', 1), '+', '%2B'))"
)
_IDENT_SQL = (
    f"substring_index({_REL_SQL}, '/', 1) AS {_ID_COLS[0]}",
    f"substr({_REL_SQL}, length(substring_index({_REL_SQL}, '/', 1)) + 2)"
    f" AS {_ID_COLS[1]}",
    f"_metadata.row_index AS {_ID_COLS[2]}",
)


def _check_reserved(cols, what: str, *, prefix: bool = False) -> None:
    """The DV/merge machinery stages internal columns (``__dv_*``,
    merge's ``__cl``/``__nc_*``/``__del``/...) onto user frames — a
    table that legitimately carries one of those names would silently
    corrupt DV identity or clause resolution. Raise loudly instead.
    ``prefix=True`` reserves the whole ``__`` prefix (MERGE, whose
    staging names are clause-indexed and unbounded); otherwise only
    the fixed identity triple is checked."""
    bad = [
        c for c in cols
        if (c.startswith("__") if prefix else c in _ID_COLS)
    ]
    if bad:
        reserved = "the '__' prefix" if prefix else f"columns {_ID_COLS}"
        raise ValueError(
            f"{what} uses internal staging names: {sorted(bad)} collide "
            f"with {reserved}, reserved by the versioned-table "
            "DV/merge machinery — rename the column(s)"
        )


#: the columns a changefeed commit adds to its rows: the change type,
#: the version stamp, and the leg partition of :func:`_fused_write`
_CDF_COLS = ("_change_type", "_commit_version", "__cdf")


def _check_cdf_cols(seg: dict | None, cols=()) -> None:
    """Refuse, before anything is written or read, a changefeed commit
    or read whose table (logical or physical names in ``seg``) or
    incoming columns ``cols`` hold one of :data:`_CDF_COLS`: the
    tagged frame would carry the column twice, or the feed's own
    columns would shadow the table's."""
    names = set(cols)
    schema = _manifest_schema(seg) if seg else None
    if schema is not None:
        for f in schema.fields:
            names |= {f.name, _phys_name(seg, f.name)}
    bad = sorted(names & set(_CDF_COLS))
    if bad:
        raise ValueError(
            f"changefeed commit: column(s) {bad} collide with the "
            f"change-row columns {list(_CDF_COLS)} — rename them "
            "(or commit without a changefeed)"
        )


def _snapshot_read(
    spark: SparkSession,
    root: str,
    seg: dict,
    entries: list[dict],
    keep_identity: bool = False,
) -> DataFrame | None:
    """The LIVE rows of these entries — the one read path every
    consumer (snapshot reads, rewrite merges, finding scans,
    compaction) goes through once deletion vectors exist. Plain files
    are one parquet scan; DV'd files scan with their physical row
    identity (``_metadata.row_index`` — stable: the position within
    the file, row-group skipping included) and ANTI-JOIN their
    deletion-vector rows, so a delete that touched 100 rows of a 1 GiB
    file costs a 100-row join at read time, not a file rewrite at
    commit time. The DV frame is the deleted-row set — small by
    construction; AQE broadcasts it (OPTIMIZE purges DVs physically
    when it rewrites). ``keep_identity=True`` keeps the
    (dir, path, row_index) identity columns on the output (DV writers
    need them); returns None for an empty entry list.

    Entries whose path carries subdirectories (hive-partitioned
    CONVERT adoptions, ``region=EU/part-0.parquet``) scan with
    ``basePath`` set to their commit dir, so Spark materializes the
    partition columns from the directory names natively — ONE scan
    node per adopted lake, no per-partition unions, partition values
    typed by the manifest schema."""
    plain = [e for e in entries if not e.get("dv")]
    dved = [e for e in entries if e.get("dv")]
    schema = _manifest_schema(seg)
    if (keep_identity or dved) and schema is not None:
        # identity columns are staged on the frame whenever they are
        # requested OR a DV anti-join needs them — either way a user
        # column by the same name would be silently corrupted
        _check_reserved([f.name for f in schema.fields], "table schema")
    frames = []

    def _scans(subset: list[dict]) -> list[DataFrame]:
        """One scan for the flat pool + one per hive commit dir."""
        out = []
        flat = [e for e in subset if "/" not in e["path"]]
        if flat:
            out.append(
                _reader(spark, seg).parquet(
                    *_paths(root, [(e["dir"], e["path"]) for e in flat])
                )
            )
        hive: dict[str, list[dict]] = {}
        for e in subset:
            if "/" in e["path"]:
                hive.setdefault(e["dir"], []).append(e)
        for d in sorted(hive):
            base = _dir_uri(root, d)
            out.append(
                _reader(spark, seg)
                .option("basePath", base)
                .parquet(*[f"{base}/{e['path']}" for e in hive[d]])
            )
        return out

    if plain:
        for df in _scans(plain):
            if keep_identity:
                df = df.selectExpr("*", *_IDENT_SQL)
            frames.append(df)
    if dved:
        data = None
        for s in _scans(dved):
            s = s.selectExpr("*", *_IDENT_SQL)
            data = s if data is None else data.unionByName(s)
        dv_dirs = sorted({e["dv"]["dir"] for e in dved})
        dvf = spark.read.schema(
            "dir string, path string, row_index bigint"
        ).parquet(*[_dv_uri(root, d) for d in dv_dirs]).toDF(*_ID_COLS)
        # the manifest carries every entry's DV row count: a small
        # deleted-row set broadcast-hints on the KNOWN total, so the
        # data side of the anti-join never shuffles (guide §3.1); big
        # DV debt falls back to the shuffled join (and is what
        # optimize(purge_dv_over=...) exists to rewrite away)
        n_dv = sum((e["dv"] or {}).get("rows", 0) for e in dved)
        live = data.join(_bc(dvf, n_dv, 3), list(_ID_COLS), "left_anti")
        if not keep_identity:
            live = live.drop(*_ID_COLS)
        frames.append(live)
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    # files store PHYSICAL names; every consumer sees LOGICAL ones
    # (identity staging columns pass through untouched)
    return _to_logical(out, seg)


def _write_checkpoint(spark: SparkSession, root: str, version: int) -> None:
    """Materialize the full live index at ``version`` as one parquet
    checkpoint — a distributed write, amortized 1/CHECKPOINT_EVERY per
    commit. Trusted only once its _SUCCESS marker exists."""
    res = _resolve(spark, root, version)
    idx = _index_df(spark, root, res)
    idx.write.mode("overwrite").parquet(_ckpt_path(root, version))


def _maybe_checkpoint(spark: SparkSession, root: str, version: int) -> None:
    if CHECKPOINT_EVERY and version > 0 and version % CHECKPOINT_EVERY == 0:
        try:
            _write_checkpoint(spark, root, version)
        except Exception as exc:
            # a failed checkpoint must never fail the already-durable
            # commit; readers fold more segments until the next one.
            # But a PERSISTENTLY failing checkpoint (perms, quota)
            # silently degrades every reader to an ever-growing
            # segment fold — warn so operators see it (describe_detail
            # surfaces last_checkpoint_version/lag for monitoring).
            warnings.warn(
                f"checkpoint write failed at {root} v{version} "
                f"(commit is durable; readers fold extra segments "
                f"until the next successful checkpoint): {exc!r}",
                RuntimeWarning,
                stacklevel=2,
            )


def _enforce_constraints(
    df: DataFrame, constraints: dict, gate: str | None = None
) -> DataFrame:
    """Single-pass write-time CHECK enforcement (Delta's constraint
    contract): the first output column is rewritten through a CASE
    that yields its own value when every constraint is NOT FALSE (SQL
    CHECK semantics — NULL passes) and raises otherwise. Because that
    column IS written, Catalyst cannot prune the check away, and the
    write task aborts on the FIRST violating row with the constraint
    name and the row as JSON — no second validation scan, no commit,
    no manifest published (:func:`_commit` deletes the staged dirs). A
    frame that omits a constrained column fails loudly at analysis
    instead of writing unchecked rows.

    ``gate``: a boolean column name — rows where it is false BYPASS
    the whole chain (CASE's lazy evaluation never touches the
    constraint expressions). For rewrite commits whose output mixes
    pass-through rows with changed ones in a single frame (merge),
    gating on the changed-flag skips re-validating rows that already
    passed enforcement at their original write."""
    c0 = df.columns[0]
    row_cols = [c for c in df.columns if c != gate]
    col = F.col(c0)
    for name in sorted(constraints, reverse=True):
        expr = constraints[name]
        ok = F.coalesce(F.expr(expr), F.lit(True))
        col = F.when(ok, col).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"CHECK constraint {name!r} ({expr}) "
                        "violated by row: "
                    ),
                    F.to_json(F.struct(*[F.col(c) for c in row_cols])),
                )
            )
        )
    if gate is not None:
        col = F.when(~F.col(gate), F.col(c0)).otherwise(col)
    return df.withColumn(c0, col)


def _rebase_ok(
    interposed: list[dict],
    conflict: dict,
    constraints: dict,
    mapping: dict | None = None,
    tomb: list | None = None,
    stats_cols: list | None = None,
    bloom: dict | None = None,
) -> bool:
    """Delta-style conflict CLASSIFICATION: can this losing commit be
    re-published at the bumped version WITHOUT re-running its Spark
    job? ``conflict`` declares what the loser logically did:

    - ``{"kind": "append"}`` — AddFile-only, reads nothing: never
      conflicts with data commits (its rows were in no snapshot the
      winner could have read or rewritten), not even a ``remove_all``
      compaction (the log fold replays an append AFTER the rewrite it
      re-bases over — the appended rows were never part of the
      compacted snapshot).
    - ``{"kind": "pruned", "read": [(dir, path)...], "key_col": c,
      "lo": v, "hi": v}`` — ``key_col`` is the PHYSICAL stats key
      (callers translate through the mapping; entry stats are keyed
      by parquet names). A key-pruned merge/upsert/CDC: it read
      (and possibly removed) exactly ``read``, and its result depends
      only on target rows whose ``key_col`` falls in [lo, hi]. Safe
      iff no winner REMOVED a file the loser read (the loser's
      survivors/preimages came from it) and every winner-ADDED file
      PROVABLY (by manifest stats) holds no key in the loser's range
      (an unproved file might hold a row the loser's match/anti-join
      should have seen). ``lo=None`` = empty source key set: no
      target row could match, winner adds are irrelevant.
    - ``{"kind": "predicate", "pred_phys": "col OP lit"}`` — a simple
      predicate DELETE/UPDATE: it read the whole snapshot, so any
      winner REMOVE conflicts; winner ADDS pass only when their stats
      REFUTE the predicate (see :func:`_stats_refute_check`) — the
      ingest-appends-racing-a-takedown shape.
    - ``{"kind": "compact", "read": [(dir, path)...]}`` — an
      INCREMENTAL compaction: it read and removed exactly ``read``
      and changed no logical row. Winner ADDS are irrelevant (the new
      files simply stay live, uncompacted until the next run); only a
      winner REMOVING one of the compacted files conflicts. This is
      the background-compaction-racing-ingest shape — the standard
      contention on an always-ingesting table. (A FULL rewrite never
      re-bases: its remove_all segment would drop the winner's rows.)

    Any interposed change to the CHECK-constraint set rejects
    unconditionally — the loser's staged files were enforced against
    the constraints it resolved, not the winner's. Conservative
    everywhere: missing stats, un-orderable stat types, or an
    unclassified commit shape mean "recompute", never "assume safe".
    """
    kind = conflict.get("kind")
    reads = (
        {tuple(r) for r in conflict.get("read", ())}
        if kind in ("pruned", "compact")
        else set()
    )
    key_col = conflict.get("key_col")
    lo, hi = conflict.get("lo"), conflict.get("hi")
    for w in interposed:
        if dict(w.get("constraints", {})) != dict(constraints):
            return False
        # an interposed rename/drop changes what the loser's staged
        # PHYSICAL files mean — always a real conflict
        if dict(w.get("column_mapping", {})) != dict(mapping or {}):
            return False
        if set(w.get("dropped_physical", [])) != set(tomb or []):
            return False
        # stats_cols is carried state like constraints/mapping: a
        # re-based loser would republish its stale list as the
        # table's newest, silently reverting an interposed zorder's
        # stats-cols widening — reject and recompute instead
        if stats_cols is not None and list(
            w.get("stats_cols", [])
        ) != list(stats_cols):
            return False
        # bloom-index spec: same carried-state rule — a re-based
        # loser republishing a stale spec would silently revert an
        # interposed set/drop_bloom_index (and its staged files were
        # indexed, or not, under the spec it resolved)
        if w.get("bloom") != bloom:
            return False
        if w.get("remove_all"):
            if kind != "append":
                return False
            continue
        if kind == "append":
            continue
        if kind == "predicate":
            # a predicate DELETE/UPDATE read the WHOLE snapshot (the
            # finding scan): any winner remove invalidates it; winner
            # ADDS pass only when their stats REFUTE the predicate
            # (the ingest-appends-vs-takedown race — the common one)
            if w.get("remove", []):
                return False
            for e in w.get("add", []):
                if e.get("rows", 1) == 0:
                    continue
                if not _stats_refute_check(e, conflict["pred_phys"]):
                    return False
            continue
        if kind == "compact":
            # no logical row changes: only a winner removing one of
            # the compacted files conflicts; winner adds stay live
            for r in w.get("remove", []):
                if tuple(r) in reads:
                    return False
            continue
        if kind != "pruned":
            return False
        for r in w.get("remove", []):
            if tuple(r) in reads:
                return False
        if lo is None:
            continue
        for e in w.get("add", []):
            if e.get("rows", 1) == 0:
                continue
            bounds = (e.get("stats") or {}).get(key_col)
            if not bounds:
                return False
            try:
                if not (bounds[1] < lo or hi < bounds[0]):
                    return False
            except TypeError:
                return False
    return True


def _rebase_prev(
    spark: SparkSession,
    root: str,
    version: int,
    conflict: dict,
    constraints: dict,
    mapping: dict | None = None,
    tomb: list | None = None,
    stats_cols: list | None = None,
    bloom: dict | None = None,
) -> dict | None:
    """After a CAS loss at ``version``: read the interposed winner
    segments and return the NEW previous manifest to re-base onto when
    :func:`_rebase_ok` proves the loser logically disjoint from every
    winner — else None (caller falls back to the strict raise →
    :func:`commit_with_retry` recompute)."""
    new_cur = current_version(spark, root)
    if new_cur < version:
        return None
    interposed = []
    for w in range(version, new_cur + 1):
        try:
            interposed.append(_read_manifest(spark, root, w))
        except (FileNotFoundError, OSError):
            return None
    if not _rebase_ok(
        interposed, conflict, constraints, mapping, tomb, stats_cols,
        bloom,
    ):
        return None
    return interposed[-1]


def _restamp_cdf(
    spark: SparkSession, root: str, old_dir: str, new_version: int
) -> str:
    """Re-stamp a staged changefeed directory for a re-based commit:
    change rows carry ``_commit_version`` IN the data (the streaming
    contract), so a loser re-publishing at a bumped version must
    rewrite them — O(change batch), still far cheaper than re-running
    the upstream job. Writes a fresh version-stamped dir and drops the
    stale one. A 0-row changefeed leg stages a directory with no data
    file (see :func:`_fused_write`): there is nothing to re-stamp and no
    schema to infer, so it is renamed instead."""
    new_dir = f"v{new_version}-{uuid.uuid4().hex[:8]}"
    old_path = _jpath(spark, f"{root}/{CDF_DIR}/{old_dir}")
    fs, _ = _hadoop_fs(spark, root)
    files = fs.listFiles(old_path, True)
    while files.hasNext():
        if not files.next().getPath().getName().startswith(("_", ".")):
            break
    else:
        if not fs.rename(old_path, _jpath(spark, f"{root}/{CDF_DIR}/{new_dir}")):
            raise RuntimeError(f"changefeed rename failed: {old_dir} -> {new_dir}")
        return new_dir
    spark.read.parquet(f"{root}/{CDF_DIR}/{old_dir}").withColumn(
        "_commit_version", F.lit(new_version)
    ).write.mode("errorifexists").parquet(f"{root}/{CDF_DIR}/{new_dir}")
    fs.delete(old_path, True)
    return new_dir


def _commit(
    spark: SparkSession,
    root: str,
    df: DataFrame | None,
    op: str,
    stats_cols: list[str],
    *,
    removed: list[dict] | None = None,
    remove_all: bool = False,
    extra: dict | None = None,
    prev: dict | None = None,
    cdf: DataFrame | str | None = None,
    add_entries: list[dict] | None = None,
    schema_json_override: str | None = None,
    conflict: dict | None = None,
    staged: tuple[str, ...] = (),
) -> int:
    """Publish one log segment — the one funnel of every versioned-table
    write, and the one place that knows the commit contract:

    - ``removed``: the live entries this commit removes; the remove
      actions, the row debit and the DV debit all derive from them.
    - ``df`` is written as is: callers enforce CHECK constraints on the
      rows they change (:func:`_commit_frame`, or
      :func:`_enforce_constraints` for a plain append). ``cdf="tagged"``
      marks ``df`` as the one frame of :func:`_commit_frame`
      (``_change_type`` NULL = data row); a DataFrame ``cdf`` is a
      change-only commit (``df=None``: DV delete, restore).
    - ``staged``: the directories the caller wrote before calling
      (a DV dir, adopted or mirrored files). They and this commit's own
      data, bloom-sidecar and changefeed dirs are deleted whenever
      nothing was published — an error before the first publish or a
      CAS loss that cannot re-base. Any other publish error leaves
      every dir in place: the manifest may have landed.

    The version is PINNED to the snapshot the caller resolved
    (``prev``) — never re-read at publish time, which would silently
    absorb a commit that landed in between: the removes and rewrites
    were planned against the OLD snapshot. Pinning makes an interposed
    commit COLLIDE on the version file instead (the optimistic-
    concurrency contract); a loser whose ``conflict`` footprint is
    provably disjoint from every winner re-publishes its already-staged
    files over the winner (:func:`_rebase_ok`), anything else raises
    for :func:`commit_with_retry` to recompute."""
    _require_plain_root(root, "a data commit")
    if isinstance(cdf, DataFrame) and df is not None:
        raise ValueError(
            "data and change rows arrive together only as one tagged "
            "frame (cdf='tagged')"
        )
    if prev is None:
        cur = current_version(spark, root)
        prev = (
            _read_manifest(spark, root, cur) if cur >= 0 else {"version": -1}
        )
    version = prev["version"] + 1
    # UNIQUE staging dirs: a crashed/losing writer's data can never
    # collide with a later commit's errorifexists write
    commit_dir = f"{root}/{DATA_DIR}/commit-v{version}-{uuid.uuid4().hex[:8]}"
    cdf_dir = f"v{version}-{uuid.uuid4().hex[:8]}"
    extra = dict(extra or {})
    # carried state (constraints, column mapping + dropped-physical
    # tombstones, bloom-index spec) rides forward from the snapshot;
    # the commits that change it pass the replacement through extra
    constraints = dict(extra.get("constraints", prev.get("constraints", {})))
    mapping = dict(extra.get("column_mapping", prev.get("column_mapping", {})))
    tomb = list(
        extra.get("dropped_physical", prev.get("dropped_physical", []))
    )
    bloom_spec = extra.get("bloom", prev.get("bloom"))
    # the RESOLVED mapping (before any new-column assignment below) —
    # what a rebase-time winner must match exactly
    base_mapping, base_tomb = dict(mapping), list(tomb)

    def schema_over(base: dict) -> str | None:
        # SCHEMA lives in the log: readers plan against it, and each
        # snapshot time-travels with the schema it was written under.
        # Evolution is WIDEN-ONLY over the base (see _evolve_schema); a
        # df-less commit carries the base's schema
        if schema_json_override is not None:
            return schema_json_override
        if df_schema is None:
            return base.get("schema")
        return _evolve_schema(base.get("schema"), df_schema)

    new_files: list[dict] = list(add_entries or [])
    removed = removed or []
    maybe_published = False
    try:
        legs = None
        if isinstance(cdf, str) and cdf == "tagged":
            legs, cdf = df, None
            df = legs.where("_change_type IS NULL").drop("_change_type")
        # the LOGICAL schema of the frame (df itself is renamed to
        # physical names below)
        df_schema = df.schema if df is not None else None
        schema_json = schema_over(prev)  # validated BEFORE data lands
        if df is not None and (mapping or tomb):
            # MAPPED table: columns born THIS commit get a collision-free
            # physical name — never one already in use or tombstoned by
            # a drop (reusing a dropped physical would resurrect old
            # values out of carried files). Pre-existing columns keep
            # theirs.
            prev_logical = {
                f["name"]
                for f in json.loads(prev.get("schema") or "{}").get(
                    "fields", []
                )
            }
            used_phys = {mapping.get(n, n) for n in prev_logical}
            for f in df_schema.fields:
                if f.name in prev_logical:
                    continue
                phys = f.name
                if phys in used_phys or phys in tomb:
                    phys = f"{f.name}_{uuid.uuid4().hex[:8]}"
                    mapping[f.name] = phys
                used_phys.add(phys)
        df = _to_physical(df, mapping)
        legs = _to_physical(legs, mapping)
        cdf_path = f"{root}/{CDF_DIR}/{cdf_dir}"
        if legs is not None:
            # data + change rows FUSE into one write job where renames
            # are cheap (guide §2.4; see _fused_write). Object stores
            # write twice, both writes reading the one tagged frame —
            # persisted here, so its upstream runs once
            if _fuse_ok(root):
                _fused_write(spark, legs, version, commit_dir, cdf_path)
            else:
                legs = legs.persist()
                try:
                    legs.where("_change_type IS NULL").drop(
                        "_change_type"
                    ).write.mode("errorifexists").parquet(commit_dir)
                    legs.where("_change_type IS NOT NULL").withColumn(
                        "_commit_version", F.lit(version)
                    ).write.mode("errorifexists").parquet(cdf_path)
                finally:
                    legs.unpersist()
        elif df is not None:
            df.write.mode("errorifexists").parquet(commit_dir)
        if df is not None:
            fresh = _file_entries(commit_dir, stats_cols)
            new_files = new_files + fresh
            if bloom_spec and bloom_spec.get("cols"):
                # ONE extra bounded job over the just-written files —
                # bitmaps land as sidecar parquet keyed by this staging
                # dir; every data-writing path funnels through here, so
                # rewrites re-index automatically
                _write_bloom_sidecar(
                    spark, root, commit_dir, bloom_spec, fresh,
                    _physical_schema(
                        {"schema": schema_json, "column_mapping": mapping}
                    ),
                    set(df.columns),  # the frame just written — no
                    # footer re-read to decide narrow-writer coverage
                )
        # changefeed capture (Delta CDF shape): change rows are written
        # AT COMMIT TIME, when the writer knows which rows changed, and
        # carry ``_commit_version`` IN the data so a Structured
        # Streaming file source over _change_data/ needs no custom
        # source. Appends need no copy (their add files ARE the inserts,
        # "add") unless the caller wants a STREAMABLE feed; compactions,
        # metadata-only commits and convert/clone (cdf="none" — Delta's
        # CDF serves neither) change no logical row: feeds SPAN them
        if isinstance(cdf, DataFrame):
            # change files store PHYSICAL names too — a feed spanning a
            # rename unifies on the stable physical name
            _to_physical(cdf, mapping).withColumn(
                "_commit_version", F.lit(version)
            ).write.mode("errorifexists").parquet(cdf_path)
        if isinstance(cdf, DataFrame) or legs is not None:
            feed = "dir"
        elif cdf == "none" or op == "optimize" or (
            df is None and not new_files and not (removed or remove_all)
        ):
            feed = "none"
        else:
            feed = "add" if op == "append" else None
        # DV-DEBT running totals (files read through an anti-join, dead
        # rows they drag) ride the manifest like total_files/total_rows
        # so history()/optimize size REORG purges without a file list.
        # Pre-upgrade manifests lack them: .get(.., 0) restarts the
        # totals from this commit on
        add_dv = _dv_debit(new_files)
        rm_dv = _dv_debit(removed)
        added_rows = _nrows(new_files)
        # the FEATURES RATCHET (Delta's protocol features): the base
        # snapshot's features plus what THIS commit's content uses —
        # monotonic, so a reader resolving any later version sees every
        # capability the snapshot depends on
        content = {
            f
            for f, on in (
                ("deletion-vectors", any(e.get("dv") for e in new_files)),
                ("column-mapping", bool(mapping or tomb)),
                ("check-constraints", bool(constraints)),
                ("bloom-index", bool(bloom_spec)),
                (
                    "foreign-refs",
                    any(_is_abs_dir(e["dir"]) for e in new_files),
                ),
                ("hive-paths", any("/" in e["path"] for e in new_files)),
            )
            if on
        }

        def segment(base: dict) -> dict:
            # every version-dependent field, derived from the snapshot
            # this commit publishes over: the one it resolved, or the
            # winner it re-bases onto
            kept = {} if remove_all else base  # remove_all drops every file
            seg = {
                "version": base["version"] + 1,
                "op": op,
                # wall-clock commit time (epoch s, UTC) — what time-based
                # retention (vacuum keep_since) sizes by; never part of
                # conflict semantics (re-based commits restamp)
                "ts": _time.time(),
                "stats_cols": stats_cols,
                "add": new_files,
                "remove": [list(r) for r in _rm(removed)],
                "remove_all": remove_all,
                "total_files": (
                    kept.get("total_files", 0) - len(removed) + len(new_files)
                ),
                "total_rows": (
                    kept.get("total_rows", 0) - _nrows(removed) + added_rows
                ),
                "total_dv_files": (
                    kept.get("total_dv_files", 0) - rm_dv[0] + add_dv[0]
                ),
                "total_dv_rows": (
                    kept.get("total_dv_rows", 0) - rm_dv[1] + add_dv[1]
                ),
                **{
                    k: v
                    for k, v in extra.items()
                    if k not in (
                        "txn", "constraints", "column_mapping",
                        "dropped_physical", "bloom",
                    )
                },
            }
            # streaming txn high-water marks (run_cdc_versioned_sink)
            # survive interleaved commits: the base's map, overlaid by
            # this commit's
            txn = {**base.get("txn", {}), **extra.get("txn", {})}
            feats = content | set(base.get("features", []))
            schema = schema_over(base)
            mark = {"dir": cdf_dir} if feed == "dir" else feed
            for key, val in (
                ("constraints", constraints),
                ("column_mapping", mapping),
                ("dropped_physical", tomb),
                ("bloom", bloom_spec),
                ("features", sorted(feats)),
                # the commit's OWN staging dir, for history()'s
                # files_added/relinked split: a RE-BASED commit keeps
                # its pre-race stamp
                (
                    "staging_dir",
                    os.path.basename(commit_dir) if df is not None else None,
                ),
                ("schema", schema),
                ("txn", txn),
                ("cdf", mark),
            ):
                if val:
                    seg[key] = val
            return seg

        seg = segment(prev)
        rebases = 0
        while True:
            maybe_published = True
            try:
                _write_manifest_atomic(spark, root, seg["version"], seg)
                break
            except RuntimeError as race:
                if "concurrent commit" not in str(race):
                    raise
                # a CAS loss: nothing of this commit landed
                maybe_published = False
                # REBASE-on-conflict (Delta's conflict checker): a loser
                # provably disjoint from every interposed winner re-
                # publishes its ALREADY-STAGED files over the winner's
                # snapshot — the data job never re-runs. Bounded: under
                # pathological contention recompute is the honest answer
                base = None
                if conflict is not None and rebases < 20:
                    base = _rebase_prev(
                        spark, root, seg["version"], conflict, constraints,
                        base_mapping, base_tomb, list(stats_cols),
                        bloom_spec,
                    )
                if base is None:
                    raise
                rebases += 1
                if feed == "dir":
                    cdf_dir = _restamp_cdf(
                        spark, root, cdf_dir, base["version"] + 1
                    )
                # schema evolution re-validates against the winner's
                # schema: a type conflict here is real (recompute would
                # hit it too) and raises instead of the race
                seg = segment(base)
                # contention telemetry for history(): the version this
                # commit first pinned and how many winners it re-based
                # over
                seg["rebased_from"] = version
                seg["rebases"] = rebases
    except BaseException:
        if not maybe_published:
            fs, _ = _hadoop_fs(spark, root)
            name = os.path.basename(commit_dir)
            for d in (
                commit_dir, _fuse_dir(commit_dir),
                f"{root}/{BLOOM_DIR}/{name}", f"{root}/{CDF_DIR}/{cdf_dir}",
                *staged,
            ):
                fs.delete(_jpath(spark, d), True)
        raise
    _maybe_checkpoint(spark, root, seg["version"])
    return seg["version"]


def commit_append(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    stats_cols: list[str] | None = None,
    changefeed: bool = False,
) -> int:
    """Append a new snapshot = previous files + this commit's files.
    The segment records only the ADDED files — O(batch) bytes.

    ``changefeed=True`` additionally COPIES the batch into
    ``_change_data/`` as insert rows, from the same pass that writes
    the data files (one tagged frame, see :func:`_commit_frame`).
    Batch :func:`table_changes` never needs this — an append's add
    files ARE its inserts — but a STREAMING consumer
    (:func:`stream_table_changes`, a plain file source over
    _change_data/) only sees what lands there; opt in on tables
    feeding one, at the cost of one extra copy of each append batch."""
    cur = current_version(spark, root)
    prev = _read_manifest(spark, root, cur) if cur >= 0 else None
    cons = (prev or {}).get("constraints") or {}
    if changefeed:
        _check_cdf_cols(prev, df.columns)
        vals = [_q(c) for c in df.columns]
        df = _commit_frame([(df, [
            ("true", None, vals, "true"), ("true", "insert", vals, "false"),
        ])], df.columns, cons)
    elif cons:
        df = _enforce_constraints(df, cons)
    cols = stats_cols or (prev["stats_cols"] if prev else [])
    return _commit(
        spark, root, df, "append", cols, prev=prev,
        cdf="tagged" if changefeed else None,
        # AddFile-only, reads nothing: a CAS loss re-publishes the
        # staged files at the bumped version (never re-runs the job)
        conflict={"kind": "append"},
    )


def version_as_of(
    spark: SparkSession, root: str, ts: float | _dt.datetime
) -> int:
    """Timestamp time travel (Delta's ``timestampAsOf``): the newest
    version whose commit timestamp is at-or-before ``ts`` — the
    snapshot that was current then. O(versions-after-ts) manifest
    reads (scan downward from current, stop at the first hit); raises
    if ``ts`` predates the oldest RETAINED commit (vacuumed history
    cannot be travelled to, same as version numbers below the
    cutoff)."""
    if isinstance(ts, _dt.datetime):
        ts = ts.timestamp()
    cur = _head(spark, root)
    v = cur
    while v >= 0:
        try:
            if _commit_ts(spark, root, v) <= ts:
                return v
        except (FileNotFoundError, OSError) as exc:
            raise FileNotFoundError(
                f"{root}: no retained commit at-or-before ts={ts} "
                f"(log truncated below v{v + 1} by vacuum)"
            ) from exc
        v -= 1
    raise FileNotFoundError(
        f"{root}: table's first commit is newer than ts={ts}"
    )


def read_version(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    key_range: tuple | None = None,
    key_col: str | None = None,
    as_of_ts: float | _dt.datetime | None = None,
    key_in: list | None = None,
) -> DataFrame:
    """Snapshot read — exactly the snapshot's files; ``version=None``
    resolves latest at CALL time and stays pinned (snapshot isolation:
    later commits never leak into this DataFrame). ``as_of_ts``
    (exclusive with ``version``) time-travels by wall clock via
    :func:`version_as_of` — the read-side twin of vacuum's
    ``keep_since`` retention knob.

    ``key_range=(lo, hi)`` with ``key_col`` applies INDEX-stats file
    skipping before the scan even plans, as a DataFrame filter over
    the file index — the read-side twin of the upsert pruning: files
    whose [min,max] misses the range never reach the scan, and only
    the SURVIVING paths are ever collected, which at 100 TB is the
    difference between listing a million files and reading the three
    that matter. (Parquet row-group skipping still applies inside the
    files that survive; callers add the matching .filter() for
    row-level pruning, which pushes into the scan.)

    ``key_in=[v1, v2, ...]`` with ``key_col`` is the POINT-LOOKUP
    twin (exclusive with ``key_range``): files prune first by stats
    against [min(vs), max(vs)], then — when the table carries a bloom
    index over the column (:func:`set_bloom_index`) — by per-file
    Bloom membership, which is what actually skips files for a
    high-cardinality needle whose [min,max] interval every file
    intersects. Files from pre-index commits (and by-reference
    foreign/adopted files) are kept conservatively; a Bloom false
    positive costs one extra file scan, never a wrong result. Callers
    add ``.filter(col.isin(vs))`` for the row-level cut."""
    _require_plain_root(root, "read_version")
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ts, not both")
        version = version_as_of(spark, root, as_of_ts)
    v = current_version(spark, root) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no versioned table at {root}")
    res = _resolve(spark, root, v)
    seg = res["seg"]
    if key_in is not None:
        if key_range is not None:
            raise ValueError("pass key_range OR key_in, not both")
        if key_col is None:
            raise ValueError("key_in needs key_col")
        if not key_in:
            raise ValueError("key_in is empty")
        # stats prune is best-effort for point lookups: a bloom col
        # needn't be a stats col (high-cardinality keys rarely are) —
        # the bloom refine below is the prune that matters there
        if _phys_name(seg, key_col) in seg["stats_cols"]:
            key_range = (min(key_in), max(key_in))
    lo = hi = None
    if key_range is not None:
        if key_col is None or _phys_name(seg, key_col) not in seg["stats_cols"]:
            raise ValueError(
                f"key_range needs key_col with manifest stats "
                f"(stats_cols={seg['stats_cols']})"
            )
        lo, hi = _bound(key_range[0]), _bound(key_range[1])
    entries = _pruned_entries(spark, root, res, key_col, lo, hi,
                              slim=True)
    if key_in is not None and entries:
        spec = seg.get("bloom") or {}
        phys = _phys_name(seg, key_col)
        if phys in spec.get("cols", []):
            schema = _manifest_schema(seg)
            entries = _bloom_refine(
                spark, root, entries, phys, list(key_in),
                schema[key_col].dataType if schema else None,
            )
    out = _snapshot_read(spark, root, seg, entries)
    if out is None:
        schema = _manifest_schema(seg)
        if schema is not None:
            return spark.createDataFrame([], schema)
        return spark.createDataFrame([], "dummy string").limit(0)
    return out


def _pruned_conflict(seg: dict, key_col: str, read: list, lo, hi) -> dict:
    """The ``pruned`` conflict footprint of a key-pruned commit (see
    :func:`_rebase_ok`): it read the ``(dir, path)`` files ``read``,
    and its result depends only on rows whose logical ``key_col``
    falls in [lo, hi]. The footprint names the PHYSICAL stats key."""
    return {
        "kind": "pruned",
        "read": read,
        "key_col": _phys_name(seg, key_col),
        "lo": lo,
        "hi": hi,
    }


def _keyed_table(spark: SparkSession, root: str, prune_col: str) -> dict:
    """The resolved current snapshot for a keyed write (upsert, CDC
    apply, MERGE), whose file pruning runs on ``prune_col`` — which
    must therefore carry manifest stats."""
    cur = _head(spark, root)
    res = _resolve(spark, root, cur)
    seg = res["seg"]
    if _phys_name(seg, prune_col) not in seg["stats_cols"]:
        raise ValueError(
            f"{prune_col} has no manifest stats (stats_cols="
            f"{seg['stats_cols']}); re-create the table with it"
        )
    return res


def _keyed_rewrite(
    spark: SparkSession,
    root: str,
    res: dict,
    batch: DataFrame,
    key_cols: list[str],
    n: int,
    lo,
    hi,
    op: str,
    extra: dict | None = None,
    changefeed: bool = False,
    delete: tuple[str, str] | None = None,
) -> tuple[int, int, int]:
    """Copy-on-write keyed rewrite of ``batch`` into the snapshot
    ``res`` — the one core of :func:`commit_upsert` and
    :func:`apply_changes`. ``n``/``lo``/``hi`` are the batch's MEASURED
    row count and bounds of the prune key ``key_cols[0]``; ``op`` names
    the commit in the log. With ``delete=(op_col, delete_op)``, batch
    rows whose ``op_col`` equals ``delete_op`` delete their key; every
    other row upserts.

    Only files whose [min,max] of the prune key intersects [lo, hi]
    are rewritten (survivors anti-join + the upserted rows); every
    other file carries over by reference — zero data movement and zero
    log bytes. ``changefeed=True`` records the change rows for
    :func:`table_changes`, tagged in the data frame itself (see
    :func:`_commit_frame`). Returns (new_version, files_rewritten,
    files_carried)."""
    seg = res["seg"]
    nk = len(key_cols)
    op_col, delete_op = delete or (None, None)
    upserts = batch
    if delete is not None:
        upserts = batch.filter(F.col(op_col) != delete_op).drop(op_col)
    # no key means no key file: an empty or all-NULL-key batch matches
    # no row (SQL equality), so it reads and removes nothing and its
    # rows land as inserts — commit_merge's rule; _rebase_ok reads the
    # lo=None footprint the same way (_pruned_entries would read
    # lo=None as "no pruning" and rewrite every file)
    touched = [] if lo is None else _pruned_entries(
        spark, root, res, key_cols[0], lo, hi, slim=True
    )
    # survivors read through the manifest schema (_reader); the batch
    # may ADD a column — survivors surface NULL for it (widen-only
    # schema evolution; the callers raise on an omitted column).
    # _snapshot_read applies any deletion vectors, so a rewrite of a
    # DV'd file physically purges its deleted rows.
    read = _snapshot_read(spark, root, seg, touched) if touched else None
    cons = seg.get("constraints") or {}
    if not changefeed:
        # CHECK enforcement on the CHANGED leg only: survivors passed
        # the chain at their original write
        out = _enforce_constraints(upserts, cons) if cons else upserts
        if touched:
            out = read.join(
                # no distinct: anti-join is existence — dup build keys
                # are free, the dedup Exchange is not
                _bc(batch.select(*key_cols), n, nk), key_cols, "left_anti"
            ).unionByName(out, allowMissingColumns=True)
    else:
        # one pass over each side: the touched rows emit survivors and
        # preimages/deletes, the upserts themselves and their
        # postimages/inserts. Column d, left-joined by key, is NULL
        # where the batch misses the key, else whether the batch
        # deletes it
        names, parts = upserts.columns, []
        d = _stage_names(names + (read.columns if touched else []), "d")[0]
        ups = upserts.selectExpr("*", f"CAST(NULL AS BOOLEAN) AS {d}")
        if touched:
            names = read.columns + [c for c in names if c not in read.columns]
            is_del = (
                f"coalesce({_q(op_col)} = {_sql_str(delete_op)}, false)"
                if delete else "false"
            )
            keys = _bc(batch.selectExpr(
                *[_q(c) for c in key_cols], f"{is_del} AS {d}"
            ), n, nk + 1)
            # the touched keys the batch hits; distinct, as the table
            # may hold duplicate keys (a dup'd build side fans rows out)
            hit = _bc(
                read.select(*key_cols).join(keys, key_cols).distinct(),
                n, nk + 1,
            )
            pre = [
                _q(c) if c in read.columns
                else f"CAST(NULL AS {_ddl(upserts.schema[c].dataType)})"
                for c in names
            ]
            # a CDC batch holds one event per key (latest-wins), so the
            # touched rows join its keys directly; an upsert batch may
            # repeat a key, so they join the hit frame the upserts join
            # (one plan, one exchange — unless the batch is cached:
            # Spark reuses no exchange over a cached frame)
            parts.append((read.join(
                keys if delete else hit, key_cols, "left_outer"
            ), [
                (f"{d} IS NULL", None, pre, "false"),
                (f"NOT {d}", "update_preimage", pre, "false"),
                (d, "delete", pre, "false"),
            ]))
            ups = upserts.join(hit, key_cols, "left_outer")
        vals = [_q(c) for c in names]
        out = _commit_frame(parts + [(ups, [
            ("true", None, vals, "true"),
            (f"NOT {d}", "update_postimage", vals, "false"),
            (f"{d} IS NULL", "insert", vals, "false"),
        ])], names, cons)
    v = _commit(
        spark,
        root,
        out,
        op,
        seg["stats_cols"],
        removed=touched,
        extra=extra,
        prev=seg,
        cdf="tagged" if changefeed else None,
        # key-pruned footprint: a CAS loss re-bases when every
        # winner is provably outside [lo, hi] and removed none of
        # the touched files (see _rebase_ok)
        conflict=_pruned_conflict(seg, key_cols[0], _rm(touched), lo, hi),
    )
    return v, len(touched), seg["total_files"] - len(touched)


def commit_upsert(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key_col: str | list[str],
    changefeed: bool = False,
) -> tuple[int, int, int]:
    """Copy-on-write MERGE by key — one column or a COMPOSITE list
    (file pruning on the FIRST; like :func:`commit_merge`): rows of
    ``updates`` replace the table rows with the same key and insert
    otherwise. Only files whose [min,max] range of the prune key
    intersects the update's key range are rewritten; every other file
    carries over by reference (see :func:`_keyed_rewrite`). Returns
    (new_version, files_rewritten, files_carried).

    ``changefeed=True`` records change rows for :func:`table_changes`
    (``insert`` / ``update_preimage`` / ``update_postimage`` — an
    upsert never deletes); see :func:`apply_changes` for the capture
    contract."""
    key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
    res = _keyed_table(spark, root, key_cols[0])
    _require_full_rows(_manifest_schema(res["seg"]), updates.columns, "updates")
    if changefeed:
        _check_cdf_cols(res["seg"], updates.columns)
    # the bounds pass also counts the batch (free in the same agg): a
    # MEASURED row count lets every downstream join of the batch's keys
    # broadcast-hint deliberately (guide §3.1) instead of shuffling the
    # touched-file side on an optimizer estimate
    bounds = updates.agg(
        F.min(key_cols[0]).alias("lo"), F.max(key_cols[0]).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return _keyed_rewrite(
        spark, root, res, updates, key_cols, int(bounds["n"]),
        _bound(bounds["lo"]), _bound(bounds["hi"]), "upsert",
        changefeed=changefeed,
    )


def _found_entries(refs: list[dict], keys) -> list[dict]:
    """The entries of ``refs`` behind scan-derived ``(dir, path)``
    identities (a file-finding scan's result), sorted."""
    by_key = _ident_map(refs, "matched-file lookup")
    out = []
    for key in keys:
        if key not in by_key:
            raise RuntimeError(
                f"matched file {key} not in the resolved snapshot "
                "(concurrent vacuum?)"
            )
        out.append(by_key[key])
    out.sort(key=lambda e: (e["dir"], e["path"]))
    return out


def _check_mode(mode: str) -> None:
    """The DML write modes: copy-on-write or deletion vectors."""
    if mode not in ("rewrite", "dv"):
        raise ValueError(f"mode must be 'rewrite' or 'dv', got {mode!r}")


def commit_delete_where(
    spark: SparkSession,
    root: str,
    predicate: str,
    changefeed: bool = False,
    mode: str = "rewrite",
) -> tuple[int, int, int, int]:
    """Predicate DELETE as a COMMIT (Delta's ``DELETE FROM t WHERE p``
    — the GDPR/takedown shape a 100 TB corpus table needs: "drop every
    row from domain X" without knowing keys): find the files holding
    ≥1 matching row via one predicate-pushed scan, then either

    - ``mode="rewrite"`` (copy-on-write, the default): rewrite ONLY
      those files keeping their non-matching rows, carry every other
      file by reference; or
    - ``mode="dv"`` (merge-on-read, Delta's DELETION VECTORS): write
      the matched rows' physical identities ((commit dir, file,
      row_index)) as a deletion-vector parquet and re-add the touched
      entries BY REFERENCE with the DV attached — deleting 100 rows
      from a terabyte of files costs O(matched rows), not a rewrite.
      Readers anti-join the DV (see :func:`_snapshot_read`);
      :func:`optimize` purges DVs physically when it rewrites. A
      second DV delete on the same file unions into a fresh DV (one
      DV ref per entry). File stats stay as written — conservative,
      never wrong.

    SQL DELETE semantics exactly in both modes: a row is deleted iff
    the predicate is TRUE — NULL-valued predicates KEEP the row (the
    ``NOT coalesce(p, false)`` keep-side, iron rule 9's explicitness).

    Returns ``(new_version, files_rewritten, files_carried,
    rows_deleted)`` (``files_rewritten`` is 0 in dv mode — every file
    carries); a predicate matching nothing is a NO-OP returning the
    current version with no commit (nothing to conflict with).
    ``changefeed=True`` records the deleted rows (``delete``) for
    :func:`table_changes` / :func:`stream_table_changes`.

    Unlike :func:`commit_upsert` there is no manifest-stats pruning —
    the predicate is arbitrary — but the finding scan reads only the
    predicate's columns and pushes row-group skipping, so the cost is
    a metadata-light pass, not a rewrite."""
    _check_mode(mode)
    cur = _head(spark, root)
    res = _resolve(spark, root, cur)
    seg = res["seg"]
    if changefeed:
        _check_cdf_cols(seg)
    # only the DV leg re-ADDS entries (stats must carry); the rewrite
    # leg reads/removes them — identity/rows/dv suffice (slim skips
    # deserializing the per-file stats maps through a checkpoint index)
    refs = _pruned_entries(spark, root, res, slim=(mode != "dv"))
    v, rewritten, n = _predicate_commit(
        spark, root, seg, refs, F.expr(predicate), "delete", changefeed,
        _predicate_conflict(seg, predicate), mode, _delete_legs(changefeed),
    )
    return v, rewritten, seg["total_files"] - rewritten, n


def _delete_legs(changefeed: bool):
    """The ``legs`` builder of a predicate DELETE (see
    :func:`_predicate_commit`): the match staged ONCE as column p; the
    kept rows are the data leg, the deleted rows the delete leg (see
    :func:`_emit_legs`). A DELETE writes only pass-through survivors —
    rows that passed CHECK at their original write; nothing to
    enforce."""

    def legs(frame: DataFrame, hit) -> DataFrame:
        p = _stage_names(frame.columns, "p")[0]
        cols = [_q(c) for c in frame.columns]
        out = [(f"NOT {p}", None, cols)]
        if changefeed:
            out.append((p, "delete", cols))
        return _emit_legs(frame.select("*", hit.alias(p)), frame.columns, out)

    return legs


def _predicate_commit(
    spark: SparkSession,
    root: str,
    seg: dict,
    refs: list[dict],
    pred,
    op: str,
    changefeed: bool,
    conflict: dict | None,
    mode: str,
    legs,
) -> tuple[int, int, int]:
    """The one commit path of predicate DML — :func:`commit_delete_where`,
    :func:`commit_delete_keys` and :func:`commit_update_where` — over
    the candidate entries ``refs`` of the resolved snapshot ``seg``. A
    row matches iff ``pred`` IS TRUE; ``legs(frame, hit)`` builds the
    commit frame from table rows and the Column TRUE on matched ones.

    - ``mode="rewrite"``: Delta's file-finding scan, then ONE commit of
      ``legs`` over the touched files' live rows, which replace them;
      every other file carries by reference.
    - ``mode="dv"``: the matched live rows' identities land in a fresh
      deletion vector (:func:`_stage_dv`) and the touched entries
      re-commit by reference — the commit moves O(matched rows). An
      UPDATE commits ``legs`` over the matched rows (post-images
      append as a new file); a DELETE commits its change rows only
      (df=None: no data dir).

    ``conflict`` is the commit's footprint (see :func:`_rebase_ok`).
    Returns ``(new_version, files_rewritten, rows_deleted)``
    (``files_rewritten`` is 0 in dv mode, ``rows_deleted`` 0 for an
    UPDATE); ``(current version, 0, 0)`` with no commit when nothing
    matched."""
    cur = seg["version"]
    if not refs:
        return cur, 0, 0
    # deletion vectors applied: rows already DV-deleted never match
    live = _snapshot_read(spark, root, seg, refs, keep_identity=True)
    hit = F.coalesce(pred, F.lit(False))
    matched = None
    try:
        if mode == "rewrite":
            # the file-finding scan reads only the predicate's columns
            # (row groups skipped by stats) and collects the DISTINCT
            # matched file identities — O(matched files) on the driver
            found = live.where(pred).select(*_ID_COLS[:2]).distinct()
            touched = _found_entries(refs, map(tuple, found.collect()))
            if not touched:
                return cur, 0, 0
            df = legs(_snapshot_read(spark, root, seg, touched), hit)
            cdf = "tagged" if changefeed else None
            new_entries, staged = None, ()
        else:
            live = live.where(hit)
            if op == "delete" and not changefeed:
                # column-prune the scan to predicate + identity columns
                live = live.select(*_ID_COLS)
            matched = live.persist()
            # the commit frame first: its user expressions resolve
            # before anything is staged
            rows = matched.drop(*_ID_COLS)
            df, cdf = None, "tagged" if changefeed else None
            if op != "delete":
                df = legs(rows, F.lit(True))
            elif changefeed:
                cdf = rows.withColumn("_change_type", F.lit("delete"))
            found = _stage_dv(spark, root, cur, refs, matched)
            if found is None:
                return cur, 0, 0
            touched, dv_path, new_entries = found
            staged = (dv_path,)
        v = _commit(
            spark,
            root,
            df,
            op,
            seg["stats_cols"],
            removed=touched,
            prev=seg,
            cdf=cdf,
            add_entries=new_entries,
            conflict=conflict,
            staged=staged,
        )
    finally:
        if matched is not None:
            matched.unpersist()
    rewritten = len(touched) if mode == "rewrite" else 0
    if op != "delete":
        # an UPDATE writes every matched row back: nothing deleted
        return v, rewritten, 0
    # count from THIS commit's own entries (touched minus kept rows
    # written back) — rebase-proof, unlike a stale-snapshot totals
    # diff (a re-based loser's final total also carries the winner's
    # adds)
    return v, rewritten, _nrows(touched) - _nrows(
        _read_manifest(spark, root, v).get("add", [])
    )


def commit_delete_keys(
    spark: SparkSession,
    root: str,
    keys: list,
    key_col: str,
    changefeed: bool = False,
    mode: str = "dv",
) -> tuple[int, int, int, int]:
    """POINT DELETE by key list — the right-to-be-forgotten fast path
    (Delta's ``DELETE FROM t WHERE k IN (...)`` accelerated by its
    file-skipping indexes): on a 100 TB corpus, deleting a handful of
    known document ids must not scan the corpus to find them. The
    candidate files come from the INDEX — manifest [min,max] stats
    against ``[min(keys), max(keys)]`` when ``key_col`` is a stats
    column, refined per-file through the bloom index when
    :func:`set_bloom_index` covers it — and only the candidates are
    scanned for matching rows. Defaults to ``mode="dv"`` (deletion
    vectors: O(matched rows) written, zero rewrite — the natural pair
    for a needle delete); ``mode="rewrite"`` copy-on-writes the
    touched files like :func:`commit_delete_where`.

    Exactly ``key_col IN keys`` semantics (NULL keys are refused —
    SQL IN never matches NULL, so passing one is a caller bug, not a
    no-op). Conflict classification: when the key column has stats,
    the commit declares the ``pruned`` footprint (read set + key
    range), so a racing append provably outside the range re-bases
    instead of recomputing. Returns ``(new_version, files_rewritten,
    files_carried, rows_deleted)``; keys matching nothing are a no-op
    returning the current version."""
    _check_mode(mode)
    if not keys:
        raise ValueError("commit_delete_keys needs at least one key")
    if any(k is None for k in keys):
        raise ValueError(
            "NULL key in delete list: SQL IN never matches NULL — "
            "drop it (or use commit_delete_where with IS NULL)"
        )
    keys = list(keys)
    cur = _head(spark, root)
    res = _resolve(spark, root, cur)
    seg = res["seg"]
    if changefeed:
        _check_cdf_cols(seg)
    phys = _phys_name(seg, key_col)
    lo = hi = None
    if phys in seg["stats_cols"]:
        lo, hi = _bound(min(keys)), _bound(max(keys))
    refs = _pruned_entries(
        spark, root, res,
        key_col if lo is not None else None, lo, hi,
        slim=(mode != "dv"),
    )
    spec = seg.get("bloom") or {}
    if refs and phys in spec.get("cols", []):
        schema = _manifest_schema(seg)
        refs = _bloom_refine(
            spark, root, refs, phys, keys,
            schema[key_col].dataType if schema else None,
        )
    conflict = (
        _pruned_conflict(seg, key_col, [list(r) for r in _rm(refs)], lo, hi)
        if lo is not None
        else None
    )
    v, rewritten, n = _predicate_commit(
        spark, root, seg, refs, F.col(key_col).isin(keys), "delete",
        changefeed, conflict, mode, _delete_legs(changefeed),
    )
    return v, rewritten, seg["total_files"] - rewritten, n


def _stage_dv(
    spark: SparkSession,
    root: str,
    cur: int,
    refs: list[dict],
    matched: DataFrame,
) -> tuple[list[dict], str, list[dict]] | None:
    """Shared deletion-vector staging for the DV DELETE/UPDATE/MERGE
    legs: from the persisted ``matched`` frame (identity columns
    attached), derive the per-file match counts, resolve the touched
    entries, WRITE the fresh DV parquet (this commit's matches unioned
    with the touched files' existing DV rows — each entry points at
    exactly ONE dv dir), and build the re-add entries with rows
    debited and the DV attached. Returns ``(touched, dv_path,
    new_entries)`` or None when nothing matched."""
    # bounded by design: one row per TOUCHED FILE (never row data),
    # like the other maintenance collects in this module
    d, p, i = _ID_COLS
    per_file = {
        (r[0], r[1]): r[2]
        for r in matched.groupBy(d, p).agg(F.expr("count(1) AS __n")).collect()
    }
    if not per_file:
        return None
    touched = _found_entries(refs, per_file)
    dv_all = matched.selectExpr(
        f"{d} AS dir", f"{p} AS path", f"{i} AS row_index"
    )
    with_old = [e for e in touched if e.get("dv")]
    if with_old:
        old = spark.read.schema(
            "dir string, path string, row_index bigint"
        ).parquet(*sorted(
            {_dv_uri(root, e["dv"]["dir"]) for e in with_old}
        ))
        # keep only rows of the files re-pointing at the new DV (a
        # dv dir is shared per commit; other files keep their ref).
        # DV rows live in IDENTITY space (path-derived), which differs
        # from entry space only for clone-by-reference entries
        keys = spark.createDataFrame(
            [_ident_key(e) for e in with_old],
            "dir string, path string",
        )
        # a file's old rows can arrive via TWO old dv dirs (repeated
        # deletes leave rows for it in both; the (dir,path) semi-join
        # pulls each copy) — dedupe or DV files grow with redundant
        # rows across repeated deletes. New matches are live rows
        # (already anti-joined), so only the old-union needs this.
        dv_all = dv_all.unionByName(
            old.join(F.broadcast(keys), ["dir", "path"], "left_semi")
        ).dropDuplicates(["dir", "path", "row_index"])
    dv_dir = f"v{cur + 1}-{uuid.uuid4().hex[:8]}"
    dv_path = f"{root}/{DV_DIR}/{dv_dir}"
    dv_all.write.mode("errorifexists").parquet(dv_path)
    new_entries = []
    for e in touched:
        n_new = per_file[_ident_key(e)]
        ne = dict(e)
        ne["rows"] = e["rows"] - n_new
        ne["dv"] = {
            "dir": dv_dir,
            "rows": (e.get("dv") or {}).get("rows", 0) + n_new,
        }
        new_entries.append(ne)
    return touched, dv_path, new_entries


def commit_update_where(
    spark: SparkSession,
    root: str,
    predicate: str,
    set_exprs: dict[str, str],
    changefeed: bool = False,
    mode: str = "rewrite",
    evolve_schema: bool = False,
) -> tuple[int, int, int]:
    """Predicate UPDATE as a COMMIT (Delta's ``UPDATE t SET ... WHERE
    p``): same touched-file discovery as :func:`commit_delete_where`,
    rewriting each touched file as (rows where p is not TRUE,
    unchanged) ∪ (rows where p is TRUE, with ``set_exprs`` applied).
    SQL UPDATE semantics exactly: every SET expression sees the
    PRE-update row (one simultaneous select, never sequential
    withColumn), results cast back to the column's manifest type.
    By default UPDATE never evolves schema; ``evolve_schema=True``
    lets SET target NEW columns — each new column's type is inferred
    by resolving its expression against the table schema, the table
    widens (widen-only, like append's evolution), untouched/unmatched
    rows read NULL for it. Returns ``(new_version,
    files_rewritten, files_carried)``; no matches → NO-OP.
    ``changefeed=True`` records ``update_preimage``/
    ``update_postimage`` pairs. ``mode="dv"`` is the merge-on-read
    leg (Delta's deletion-vector UPDATE): matched rows DV-delete in
    place and their post-images append as a new file — no touched
    file rewrites, the commit moves O(matched rows); see
    :func:`commit_delete_where` for the DV contract."""
    _check_mode(mode)
    cur = _head(spark, root)
    res = _resolve(spark, root, cur)
    seg = res["seg"]
    schema = _manifest_schema(seg)
    old_names = {f.name for f in schema.fields}
    unknown = sorted(set(set_exprs) - old_names)
    if unknown and not evolve_schema:
        raise ValueError(
            f"SET columns not in the table schema: {unknown} "
            "(UPDATE never evolves schema without evolve_schema=True; "
            f"columns: {sorted(old_names)})"
        )
    if unknown:
        # infer each new column's type by resolving its SET expression
        # against the table schema — driver-side analysis, no job
        probe = spark.createDataFrame([], schema).select(
            *[F.expr(set_exprs[c]).alias(c) for c in unknown]
        )
        schema = _st.StructType(
            list(schema.fields)
            + [_st.StructField(c, probe.schema[c].dataType) for c in unknown]
        )
    fields = {f.name: f.dataType for f in schema.fields}
    if changefeed:
        _check_cdf_cols(seg, fields)
    cons = seg.get("constraints") or {}

    def output(frame: DataFrame, hit) -> DataFrame:
        # the row's match ``hit`` and every SET value staged ONCE: each
        # SET expression sees the PRE-update row (one simultaneous
        # select), casts to the column's manifest type and runs only
        # where the row matches. The data leg keeps or updates each
        # row, CHECK-gated on the updated ones; the changefeed legs
        # copy the pre/post images. Evolved columns do not exist in
        # the touched files: pre-images read them as typed NULLs
        p, *vals = _stage_names(
            frame.columns, "p", *["v_" + c for c in set_exprs]
        )
        val = dict(zip(set_exprs, vals))
        staged = frame.select("*", hit.alias(p)).selectExpr("*", *[
            f"IF({p}, CAST(({ex}) AS {_ddl(fields[c])}), NULL) AS "
            f"{_q(val[c])}"
            for c, ex in set_exprs.items()
        ])
        pre = [
            _q(c) if c in old_names else f"CAST(NULL AS {_ddl(t)})"
            for c, t in fields.items()
        ]
        post = [
            _q(val[c]) if c in set_exprs else pr
            for c, pr in zip(fields, pre)
        ]
        data = [
            f"IF({p}, {po}, {pr})" if c in set_exprs else pr
            for c, pr, po in zip(fields, pre, post)
        ]
        legs = [("true", None, data, p)]
        if changefeed:
            legs += [
                (p, "update_preimage", pre, "false"),
                (p, "update_postimage", post, "false"),
            ]
        return _commit_frame([(staged, legs)], list(fields), cons)

    # slim for the rewrite leg (stats never re-added), full for dv
    refs = _pruned_entries(spark, root, res, slim=(mode != "dv"))
    v, rewritten, _ = _predicate_commit(
        spark, root, seg, refs, F.expr(predicate), "update", changefeed,
        _predicate_conflict(seg, predicate), mode, output,
    )
    return v, rewritten, seg["total_files"] - rewritten


def _sql_cond(cond: str | None) -> str:
    """A merge clause's user condition as SQL, NULL-explicit — a NULL
    condition is NOT TRUE and must not fire the clause (iron rule 9)."""
    return "true" if cond is None else f"coalesce(({cond}), false)"


def _merge_plan(
    spark: SparkSession,
    root: str,
    seg: dict,
    source: DataFrame,
    key_cols: list[str],
    matched: bool,
    nmbs: list[dict],
    refs: list[dict],
) -> tuple:
    """A MERGE's ONE planning action: a tagged union of two small
    results under one global aggregate —

    - the source's bounds on the prune key ``key_cols[0]`` and its row
      count (the MEASURED count lets the merge join broadcast-hint the
      source deliberately, guide §3.1); with ``matched`` clauses the
      rows are grouped by the merge keys first, so max(count) <= 1
      proves no source key repeats and the cardinality probe skips;
    - the files holding >=1 live row where the OR of the by-source
      conditions could fire (Delta's file-finding scan; a by-source
      clause without a condition touches every file, no scan).

    Returns ``(lo, hi, src_has_dup_keys, n_src, by_source_files)``."""
    prune = _q(key_cols[0])
    if matched:
        parts = (
            source.groupBy(*key_cols)
            .agg(F.expr("count(1) AS __n"))
            .selectExpr(f"{prune} AS __k", "__n")
        )
    else:
        parts = source.selectExpr(f"{prune} AS __k", "1L AS __n")
    aggs = ["min(__k) AS lo", "max(__k) AS hi", "max(__n) AS mx",
            "sum(__n) AS n"]
    conds = [cl.get("condition") for cl in nmbs]
    find = bool(refs) and bool(nmbs) and None not in conds
    if find:
        found = (
            _snapshot_read(spark, root, seg, refs, keep_identity=True)
            .where(" OR ".join(_sql_cond(c) for c in conds))
            .selectExpr(
                f"named_struct('d', {_ID_COLS[0]}, 'p', {_ID_COLS[1]}) AS __f"
            )
        )
        parts = parts.unionByName(found, allowMissingColumns=True)
        aggs.append("collect_set(__f) AS f")
    r = parts.selectExpr(*aggs).collect()[0]
    if find:
        hit = _found_entries(refs, [tuple(x) for x in r["f"]])
    else:
        hit = refs if nmbs else []
    return (
        _bound(r["lo"]), _bound(r["hi"]), (r["mx"] or 0) > 1,
        int(r["n"] or 0), hit,
    )


def _merge_join(
    spark: SparkSession,
    root: str,
    seg: dict,
    touched: list[dict],
    source: DataFrame,
    key_cols: list[str],
    schema,
    old_names: set[str],
    matched: list[dict],
    nmbs: list[dict],
    n_src: int,
    keep_pre: bool,
    dv: bool,
) -> DataFrame:
    """The touched target rows LEFT-joined to the source and resolved
    through the matched / by-source clauses, in a few SQL fragments:
    the table columns (post-update values, cast to the manifest types),
    ``__del`` / ``__upd`` (the row's first-true clause deletes /
    updates it), with ``keep_pre`` the pre-update row as ``__pre_<col>``
    and with ``dv`` the row identity (:data:`_ID_COLS`)."""
    fields = {f.name: f.dataType for f in schema.fields}
    t = _snapshot_read(spark, root, seg, touched, keep_identity=dv)
    # evolved columns don't exist in the touched files yet: stage them
    # as typed NULLs FIRST, so every downstream reference (clause
    # expressions, the simultaneous select, __pre_ capture) sees one
    # uniform evolved row shape
    evolved = [
        f"CAST(NULL AS {_ddl(f.dataType)}) AS {_q(f.name)}"
        for f in schema.fields
        if f.name not in old_names
    ]
    if evolved:
        t = t.selectExpr("*", *evolved)
    # by-source flags/values are staged on the TARGET frame: their
    # expressions use bare target column names, which go ambiguous
    # after the join (source carries the same names)
    by_src = []
    for i, cl in enumerate(nmbs):
        by_src.append(f"{_sql_cond(cl.get('condition'))} AS __nc_{i}")
        for c, ex in (cl.get("set") or {}).items():
            by_src.append(
                f"CAST(({ex}) AS {_ddl(fields[c])}) AS {_q(f'__nv_{i}_{c}')}"
            )
    if by_src:
        t = t.selectExpr("*", *by_src)
    # without matched clauses the source side only marks is_matched
    # (nmbs expressions are target-only) — join the DISTINCT keys, or a
    # duplicate source key would fan a pass-through matched row out
    # into duplicates. The planning action measured the source: a small
    # batch broadcast-hints, so the touched-file side never shuffles
    src_side = source if matched else source.select(*key_cols).distinct()
    j = t.alias("t").join(
        _bc(
            src_side.selectExpr("*", "true AS __s_matched"),
            n_src, len(src_side.columns) + 1,
        ).alias("s"),
        F.expr(" AND ".join(f"t.{_q(c)} = s.{_q(c)}" for c in key_cols)),
        "left_outer",
    )
    # first-true clause resolution: the winning clause's index as ONE
    # staged column (matched and by-source contexts are disjoint, so
    # one CASE orders both lists)
    m = "coalesce(s.__s_matched, false)"
    clauses = matched + nmbs
    arms = []
    for i, cl in enumerate(clauses):
        if i < len(matched):
            c = cl.get("condition")
            ctx = m if c is None else f"{m} AND {_sql_cond(c)}"
        else:
            ctx = f"NOT {m} AND t.__nc_{i - len(matched)}"
        arms.append(f"WHEN {ctx} THEN {i}")
    j = j.selectExpr("*", f"CASE {' '.join(arms)} END AS __cl")

    def _in(action: str) -> str:
        ix = [str(i) for i, cl in enumerate(clauses) if cl["action"] == action]
        return f"coalesce(__cl IN ({', '.join(ix)}), false)" if ix else "false"

    # ONE simultaneous select: every SET expression sees the pre-update
    # row; results cast to the manifest column type
    cols = []
    for f in schema.fields:
        branches = []
        for i, cl in enumerate(clauses):
            if cl["action"] != "update" or f.name not in (cl.get("set") or {}):
                continue
            if i < len(matched):
                ex = f"CAST(({cl['set'][f.name]}) AS {_ddl(f.dataType)})"
            else:
                ex = "t." + _q(f"__nv_{i - len(matched)}_{f.name}")
            branches.append(f"WHEN {i} THEN {ex}")
        col = f"t.{_q(f.name)}"
        if branches:
            col = f"CASE __cl {' '.join(branches)} ELSE {col} END"
        cols.append(f"{col} AS {_q(f.name)}")
    cols += [f"{_in('delete')} AS __del", f"{_in('update')} AS __upd"]
    if keep_pre:
        cols += [f"t.{_q(n)} AS {_q('__pre_' + n)}" for n in fields]
    if dv:
        cols += [f"t.{c} AS {c}" for c in _ID_COLS]
    return j.selectExpr(*cols)


def commit_merge(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    key_col: str | list[str],
    matched: list[dict] | None = None,
    not_matched: list[dict] | None = None,
    not_matched_by_source: list[dict] | None = None,
    changefeed: bool = False,
    mode: str = "rewrite",
    evolve_schema: bool = False,
) -> tuple[int, int, int]:
    """General MERGE INTO as a COMMIT (Delta's ``MERGE`` — reference
    has only broadcast joins, `/root/reference/amadeus-core/src/
    par_stream/join.rs`; this is the lakehouse operator a 100 TB
    incremental corpus pipeline upserts/expires/backfills with).
    Matching is equality on ``key_col`` — one column or a COMPOSITE
    list (the multi-tenant ``(tenant_id, doc_id)`` shape); file-level
    stats pruning runs on the FIRST key column, the rest only narrow
    the join (the stats-prunable case). NULL in any key column never
    matches (SQL equality), so such source rows fall through to the
    insert clauses. Clause lists run in order, FIRST-true clause wins
    per row, rows
    hitting no clause pass through (matched) or are skipped (source):

    - ``matched``: ``{"action": "update", "set": {col: expr},
      "condition": expr|None}`` or ``{"action": "delete",
      "condition": expr|None}``. Conditions and SET expressions see
      BOTH rows as ``t.<col>`` / ``s.<col>`` (every SET sees the
      pre-update row — one simultaneous select, UPDATE semantics).
    - ``not_matched``: ``{"action": "insert", "values": {col: expr}|
      None, "condition": expr|None}`` — expressions over the SOURCE
      row (bare column names); ``values=None`` is ``INSERT *`` by
      name (source must carry every table column); an explicit
      ``values`` dict fills unlisted columns with NULL.
    - ``not_matched_by_source``: update/delete clauses over TARGET
      rows no source key matches — bare target column names
      (Delta's WHEN NOT MATCHED BY SOURCE).

    Copy-on-write with FILE-LEVEL pruning: files whose ``key_col``
    stats range intersects the source's key range rewrite (plus, when
    not_matched_by_source clauses exist, files holding >=1 row
    matching their OR'd conditions — found by one predicate-pushed
    scan); every other file carries by reference. Raises if >1 source
    row matches one target row while a matched clause exists (Delta's
    cardinality error — the result would be nondeterministic).
    By default UPDATE/INSERT never evolve schema (expressions cast to
    the manifest column type); ``evolve_schema=True`` is Delta's
    ``schema.autoMerge``: source columns the clauses REFERENCE (SET /
    values keys; ``INSERT *`` references every source column) that are
    absent from the table widen the table schema (widen-only — a TYPE
    change on an existing column still raises, see
    :func:`_evolve_schema`), target rows read NULL
    for them (carried files backfill through the manifest schema, the
    rewritten/merged rows carry explicit NULLs unless a clause sets
    them), and SET / INSERT values may then target the new columns. A
    merge that ends up committing nothing leaves the schema untouched.
    Returns ``(new_version, files_rewritten,
    files_carried)``. ``changefeed=True`` records ``insert`` /
    ``update_preimage`` / ``update_postimage`` / ``delete`` rows for
    :func:`table_changes` / :func:`stream_table_changes`.

    ``mode="dv"`` is the MERGE-ON-READ leg (Delta's deletion-vector
    merge): instead of rewriting every candidate file, the rows a
    clause actually changed DV-delete in place (update post-images and
    inserts append as new files) — a merge touching 1% of the rows in
    every file moves O(changed rows), and only files holding >=1
    changed row re-commit (with the DV attached); every other file is
    untouched. Semantics are identical to rewrite mode (pinned by
    test); ``files_rewritten`` is 0."""
    _check_mode(mode)
    matched = list(matched or [])
    not_matched = list(not_matched or [])
    nmbs = list(not_matched_by_source or [])
    if not (matched or not_matched or nmbs):
        raise ValueError("merge needs at least one WHEN clause")
    for cl in matched + nmbs:
        if cl.get("action") not in ("update", "delete"):
            raise ValueError(f"matched/by-source action must be "
                             f"update|delete, got {cl.get('action')!r}")
    for cl in not_matched:
        if cl.get("action", "insert") != "insert":
            raise ValueError("not_matched clauses can only insert")
    key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
    prune_col = key_cols[0]
    res = _keyed_table(spark, root, prune_col)
    seg = res["seg"]
    cur = seg["version"]
    schema = _manifest_schema(seg)
    # the merge machinery stages clause-indexed __-prefixed columns on
    # both frames — a user column by any such name silently corrupts
    # clause resolution; the whole prefix is reserved here
    _check_reserved(source.columns, "MERGE source", prefix=True)
    _check_reserved(
        [f.name for f in schema.fields], "MERGE target schema",
        prefix=True,
    )
    old_names = {f.name for f in schema.fields}
    bad_keys = [c for c in key_cols if c not in old_names]
    if bad_keys:
        raise ValueError(
            f"merge key columns not in the table schema: {bad_keys} "
            f"(columns: {sorted(old_names)})"
        )
    if evolve_schema:
        # Delta autoMerge: widen the table schema with the source
        # columns the clauses actually REFERENCE (SET / values keys;
        # INSERT * references every source column) — a join-payload
        # column nobody writes never leaks into the table. Types come
        # from the source schema; a type CHANGE on an existing
        # referenced column still raises (widen-only).
        referenced: set[str] = set()
        for cl in matched + nmbs:
            referenced |= set(cl.get("set") or {})
        for cl in not_matched:
            vals = cl.get("values")
            referenced |= (
                set(source.columns) if vals is None else set(vals)
            )
        relevant = _st.StructType(
            [f for f in source.schema.fields if f.name in referenced]
        )
        schema = _st.StructType.fromJson(
            json.loads(_evolve_schema(seg.get("schema"), relevant))
        )
    fields = {f.name: f.dataType for f in schema.fields}
    if changefeed:
        _check_cdf_cols(seg, fields)
    hint = (
        "MERGE only evolves schema from SOURCE columns"
        if evolve_schema
        else "MERGE never evolves schema without evolve_schema=True"
    )
    for cl in matched + nmbs:
        unknown = set(cl.get("set") or {}) - set(fields)
        if unknown:
            raise ValueError(
                f"SET columns not in the table schema: {sorted(unknown)}"
                f" ({hint}; columns: {sorted(fields)})"
            )
    for cl in not_matched:
        unknown = set(cl.get("values") or {}) - set(fields)
        if unknown:
            # a typo'd values key would otherwise be silently dropped
            # and the intended column inserted as NULL
            raise ValueError(
                f"INSERT values columns not in the table schema: "
                f"{sorted(unknown)} ({hint}; "
                f"columns: {sorted(fields)})"
            )
    if any(cl.get("values") is None for cl in not_matched):
        _require_full_rows(schema, source.columns, "INSERT * source")
    # source feeds the planning action, the cardinality probe, the
    # matched join and the insert anti-join — persist, never re-execute
    # upstream
    source = source.persist()
    cached: list[DataFrame] = [source]
    nk = len(key_cols)
    names = [f.name for f in schema.fields]
    try:
        # dv mode re-ADDS touched entries (stats must carry) — full
        # entries there; the rewrite path only needs identity/rows/dv
        slim = mode != "dv"
        refs = _pruned_entries(spark, root, res, slim=slim)
        lo, hi, src_has_dup_keys, n_src, hit = _merge_plan(
            spark, root, seg, source, key_cols, bool(matched), nmbs, refs
        )
        if lo is None:  # all-NULL or empty source: no key can match
            key_files: list[dict] = []
        else:
            key_files = _pruned_entries(
                spark, root, res, prune_col, lo, hi, slim=slim
            )
        # the REWRITE set (files removed + rewritten) is distinct from
        # the key-scan set: an insert-only merge rewrites NOTHING, and
        # an nmbs-only merge rewrites ONLY the files its conditions hit
        # (matched rows pass through — no matched clause can change
        # them) — key_files are then only read (key column alone) for
        # the anti-join / cardinality check
        rewrite: dict[tuple, dict] = {}
        if matched:
            rewrite.update({(e["dir"], e["path"]): e for e in key_files})
        rewrite.update({(e["dir"], e["path"]): e for e in hit})
        touched = sorted(
            rewrite.values(), key=lambda e: (e["dir"], e["path"])
        )
        n_kept = seg["total_files"] - len(touched)
        # the target keys in the source range, DV-applied: an already-
        # deleted row's key must neither block an insert nor trip the
        # cardinality check. Their count is bounded by the key-pruned
        # files' manifest row totals — known with no action, so the
        # joins below broadcast-hint. No distinct: both consumers are
        # EXISTENCE joins, duplicate build-side keys change nothing.
        n_tkeys = sum(e["rows"] for e in key_files)
        probe = bool(matched) and src_has_dup_keys
        tkeys = None
        if key_files and (not_matched or probe):
            tkeys = _snapshot_read(spark, root, seg, key_files).select(
                *key_cols
            )
        if tkeys is not None and probe:
            if not_matched:
                # the probe and the insert anti-join both read it
                tkeys = tkeys.persist()
                cached.append(tkeys)
            # matched-clause cardinality: >1 source row hitting one
            # target row makes update/delete nondeterministic (Delta
            # raises; so do we). Only source keys that actually match
            # count — a duplicated INSERT key is two legitimate inserts.
            dup_keys = (
                source.groupBy(*key_cols)
                .agg(F.expr("count(1) AS __n"))
                .where("__n > 1")
                .select(*key_cols)
            )
            if not dup_keys.join(
                _bc(tkeys, n_tkeys, nk), key_cols, "left_semi"
            ).isEmpty():
                raise ValueError(
                    "merge cardinality violation: >1 source row "
                    f"matches one target row on {key_cols} while a "
                    "matched clause exists (nondeterministic result)"
                )

        # ---- rewritten target rows (matched + not-matched-by-source)
        j = None
        if touched:
            j = _merge_join(
                spark, root, seg, touched, source, key_cols, schema,
                old_names, matched, nmbs, n_src,
                keep_pre=changefeed, dv=(mode == "dv"),
            )
            if mode == "dv":
                # j feeds the DV staging collect, the DV write and the
                # commit write
                j = j.persist()
                cached.append(j)

        # every output row — data rows AND change rows — from one pass
        # over each input frame, CHECK-gated on the data rows a clause
        # changed or inserted (see _commit_frame)
        post = [_q(n) for n in names]
        # ---- inserts (not matched by target), built before any DV
        # staging: the clauses' values resolve before anything is written
        ins_part = None
        if not_matched:
            ins = source if tkeys is None else source.join(
                _bc(tkeys, n_tkeys, nk), key_cols, "left_anti"
            )
            # first-true clause wins: the clause index as one CASE
            arms = " ".join(
                f"WHEN {_sql_cond(cl.get('condition'))} THEN {i}"
                for i, cl in enumerate(not_matched)
            )
            ins = ins.selectExpr("*", f"CASE {arms} END AS __ic").where(
                "__ic IS NOT NULL"
            )
            cols = []
            for f in schema.fields:
                ty = _ddl(f.dataType)
                branches = []
                for i, cl in enumerate(not_matched):
                    vals = cl.get("values")
                    ex = _q(f.name) if vals is None else vals.get(f.name)
                    if ex is not None:
                        branches.append(f"WHEN {i} THEN CAST(({ex}) AS {ty})")
                cols.append(
                    f"CASE __ic {' '.join(branches)} END AS {_q(f.name)}"
                    if branches
                    else f"CAST(NULL AS {ty}) AS {_q(f.name)}"
                )
            legs = [("true", None, post, "true")]
            if changefeed:
                legs.append(("true", "insert", post, "false"))
            ins_part = (ins.selectExpr(*cols), legs)

        # dv mode: only rows a clause CHANGED leave their files — stage
        # their identities as a deletion vector, append update
        # post-images (and inserts) as new files, and re-commit only
        # the files holding >=1 changed row (DV attached); everything
        # else is untouched
        dv_staged: tuple[str, ...] = ()
        new_entries = None
        if mode == "dv" and j is not None:
            staged = _stage_dv(
                spark, root, cur, touched,
                j.where("__del OR __upd").select(*_ID_COLS),
            )
            if staged is None:
                touched = []
                j = None
            else:
                touched, dv_path, new_entries = staged
                dv_staged = (dv_path,)

        parts = []
        if j is not None:
            pre = [_q(f"__pre_{n}") for n in names]
            legs = [("__upd" if mode == "dv" else "NOT __del", None, post,
                     "__upd")]
            if changefeed:
                legs += [
                    ("__upd", "update_preimage", pre, "false"),
                    ("__upd", "update_postimage", post, "false"),
                    ("__del", "delete", pre, "false"),
                ]
            parts.append((j, legs))
        if ins_part is not None:
            parts.append(ins_part)

        if not parts:
            return cur, 0, len(refs)
        merged = _commit_frame(parts, names, seg.get("constraints") or {})
        # conflict footprint for the CAS re-base: without by-source
        # clauses the merge's result depends only on target rows in
        # the source key range — it read the key-pruned files (anti-
        # join + cardinality) and removed/rewrote `touched`. A
        # by-source clause reads rows under an ARBITRARY predicate:
        # no stats proof possible, stay strict (recompute on loss).
        conflict_info = (
            _pruned_conflict(
                seg, prune_col,
                sorted(set(_rm(key_files)) | set(_rm(touched))), lo, hi,
            )
            if not nmbs
            else None
        )
        v = _commit(
            spark,
            root,
            merged,
            "merge",
            seg["stats_cols"],
            removed=touched,
            prev=seg,
            cdf="tagged" if changefeed else None,
            add_entries=new_entries,
            conflict=conflict_info,
            staged=dv_staged,
        )
    finally:
        for c in cached:
            c.unpersist()
    if mode == "dv":
        return v, 0, seg["total_files"]
    return v, len(touched), n_kept


#: the stats-provable CHECK shape: one column compared to one literal
#: (number or single-quoted string). Anything richer (conjunctions,
#: arithmetic, functions) is simply "not provable from stats" — the
#: file scans, never a wrong skip.
_SIMPLE_CHECK = _re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(>=|<=|==|=|<|>)\s*"
    r"('[^'\\]*'|-?\d+(?:\.\d+)?)\s*$"
)


def _parse_simple_stats(entry: dict, expr: str):
    """Shared preamble of the stats prove/refute pair: ``(op, literal,
    lo, hi)`` when ``expr`` is the simple col-OP-literal shape AND the
    entry carries type-compatible [min,max] stats for the column; None
    otherwise — which every caller treats as "cannot decide", the
    conservative direction for BOTH proof (scan the file) and
    refutation (treat as conflicting)."""
    m = _SIMPLE_CHECK.match(expr)
    if not m:
        return None
    col, op, lit = m.groups()
    bounds = (entry.get("stats") or {}).get(col)
    if not bounds:
        return None
    lo, hi = bounds
    if isinstance(lo, bool) or isinstance(hi, bool):
        return None
    if lit.startswith("'"):
        val = lit[1:-1]
        if not (isinstance(lo, str) and isinstance(hi, str)):
            return None
    else:
        val = float(lit) if "." in lit else int(lit)
        if not (
            isinstance(lo, (int, float)) and isinstance(hi, (int, float))
        ):
            return None
    return op, val, lo, hi


def _stats_prove_check(entry: dict, expr: str) -> bool:
    """Can this file's manifest [min,max] PROVE every row satisfies the
    CHECK expression? Stats cover non-NULL values only, which suffices
    — SQL CHECK passes NULL rows anyway. The expression's column name
    must be the PHYSICAL stats key (callers translate). "Not proved"
    means "scan the file", never "assume clean"."""
    parsed = _parse_simple_stats(entry, expr)
    if parsed is None:
        return False
    op, val, lo, hi = parsed
    if op in ("=", "=="):
        return lo == hi == val
    if op == "<":
        return hi < val
    if op == "<=":
        return hi <= val
    if op == ">":
        return lo > val
    return lo >= val  # ">="


def _stats_refute_check(entry: dict, expr: str) -> bool:
    """Can this file's manifest [min,max] prove NO row satisfies the
    predicate? The mirror of :func:`_stats_prove_check` (same parse,
    same conservative failure direction). NULL-valued rows never
    satisfy a comparison predicate, so stats over non-NULL values
    suffice here too. Used by the conflict checker: a winner-ADDED
    file whose rows provably cannot match a losing DELETE/UPDATE's
    predicate does not conflict with it."""
    parsed = _parse_simple_stats(entry, expr)
    if parsed is None:
        return False
    op, val, lo, hi = parsed
    if op in ("=", "=="):
        return val < lo or val > hi
    if op == "<":
        return lo >= val
    if op == "<=":
        return lo > val
    if op == ">":
        return hi <= val
    return hi < val  # ">="


def _predicate_conflict(seg: dict, predicate: str) -> dict | None:
    """Conflict footprint for a predicate DELETE/UPDATE: only the
    simple ``col OP literal`` shape classifies (the predicate is
    rewritten onto the column's PHYSICAL name — entry stats are keyed
    by it); anything richer stays strict (None → any CAS loss
    recomputes)."""
    m = _SIMPLE_CHECK.match(predicate)
    if not m:
        return None
    col, op, lit = m.groups()
    return {
        "kind": "predicate",
        "pred_phys": f"{_phys_name(seg, col)} {op} {lit}",
    }


def restore_version(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    as_of_ts: float | _dt.datetime | None = None,
    changefeed: bool = False,
) -> tuple[int, int, int]:
    """RESTORE TABLE ... TO VERSION AS OF (Delta's RESTORE): a new
    commit whose live-file set IS the target snapshot's — entirely BY
    REFERENCE (the add entries point at the files where they already
    sit; zero data movement), so rolling a 100 TB table back to
    yesterday costs O(files-diff) manifest bytes, not a rewrite. The
    commit is a normal optimistic commit: history is preserved (you
    can restore the restore away), concurrent writers collide, and the
    restored snapshot carries the TARGET's schema (rolling back a
    widen-only evolution with it).

    Only RETAINED versions restore: vacuum's cutoff guards file
    existence (a kept log segment implies its snapshot's files were
    kept — the same contract as :func:`read_version`). Returns
    ``(new_version, files_relinked, files_removed)``; restoring to the
    current state is a NO-OP returning the current version.

    ``changefeed=True`` records the LOGICAL row diff (multiset:
    target-minus-current as ``insert``, current-minus-target as
    ``delete``) so CDF consumers see the rollback; requires the target
    and current schemas to match (a restore across schema evolution
    has no well-defined row diff — raise, never guess)."""
    cur = _head(spark, root)
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ts, not both")
        version = version_as_of(spark, root, as_of_ts)
    if version is None:
        raise ValueError("restore_version needs version or as_of_ts")
    if version == cur:
        return cur, 0, 0
    target_seg = _read_manifest(spark, root, version)  # raises if vacuumed
    cur_seg = _read_manifest(spark, root, cur)
    def _ekey(e: dict) -> tuple:
        # FULL entry identity: a DV delete re-points the SAME physical
        # (dir, path) at a new deletion vector — restore must treat
        # that as a different entry (remove + re-add rolls the DV
        # back), not an unchanged file
        dv = e.get("dv") or {}
        return (e["dir"], e["path"], dv.get("dir"), dv.get("rows"),
                e["rows"])

    # DIFF on slim entries (identity/rows/dv — all _ekey needs): the
    # driver never deserializes the per-file stats maps of two full
    # snapshots; full stats are fetched ONLY for the add-side entries
    # (they re-enter the manifest and must carry stats), pruned to
    # their commit dirs through the index
    res_t = _resolve(spark, root, version)
    res_c = _resolve(spark, root, cur)
    target_entries = {
        _ekey(e): e
        for e in _pruned_entries(spark, root, res_t, slim=True)
    }
    cur_entries = {
        _ekey(e): e
        for e in _pruned_entries(spark, root, res_c, slim=True)
    }
    add_keys = sorted(k for k in target_entries if k not in cur_entries)
    if add_keys and res_t["ckpt"] is not None:
        add_dirs = sorted({k[0] for k in add_keys})
        idx = _index_df(spark, root, res_t).where(
            F.col("dir").isin(add_dirs)
        )
        full_by_ref = {
            (e["dir"], e["path"]): e
            for e in (_row_entry(r) for r in idx.collect())
        }
        adds = [full_by_ref[(k[0], k[1])] for k in add_keys]
    else:
        # driver-regime resolve already holds full entries
        adds = [target_entries[k] for k in add_keys]
    removed = [
        cur_entries[k]
        for k in sorted(k for k in cur_entries if k not in target_entries)
    ]
    # the restored snapshot must satisfy the constraints ACTIVE after
    # the restore (they carry forward from the current segment): a
    # pre-constraint snapshot can hold rows the ADD never saw, and
    # relinking them unchecked would brick every later rewrite commit
    # with the CHECK error. One predicate-pushed scan, like ADD.
    active_cons = cur_seg.get("constraints", {})
    if active_cons:
        # STATS-PRUNED validation: a file whose manifest [min,max]
        # proves every active CHECK (simple range constraints on a
        # stats column) never scans — a frequent restore on a huge
        # table with a bounded-column constraint reads only the files
        # the stats can't clear. Proofs must bind exactly like the
        # scan below does: the scan evaluates against TARGET-logical
        # names (the names the restored table will serve — the
        # constraint applies to THAT binding afterwards), so a
        # parseable constraint (a) fails fast when the target cannot
        # express its column at all, and (b) reads stats under the
        # TARGET's physical key for it. Unparseable shapes prune
        # nothing — then skip the full-stats index read entirely
        # (10^6-file driver deserialization for zero wins) and keep
        # the slim fetch + full scan, exactly as before.
        tgt_schema_names = {
            f.name for f in (_manifest_schema(target_seg) or _st.StructType([])).fields
        }
        provable: dict[str, str] = {}
        for cname in sorted(active_cons):
            cexpr = active_cons[cname]
            m = _SIMPLE_CHECK.match(cexpr)
            if not m:
                continue
            col = m.group(1)
            if col not in tgt_schema_names:
                raise ValueError(
                    f"cannot restore to v{version}: active CHECK "
                    f"constraint {cname!r} ({cexpr}) references column "
                    f"{col!r}, which the target snapshot does not "
                    "serve under that name (renamed/dropped since, or "
                    "born later) — drop the constraint first and "
                    "re-add it against the restored schema"
                )
            provable[cname] = (
                f"{_phys_name(target_seg, col)} {m.group(2)} {m.group(3)}"
            )
        if len(provable) == len(active_cons):
            tgt_full = _pruned_entries(spark, root, res_t)
            suspect = [
                e
                for e in tgt_full
                if not all(
                    _stats_prove_check(e, px) for px in provable.values()
                )
            ]
        else:
            suspect = _pruned_entries(spark, root, res_t, slim=True)
        tgt_live = (
            _snapshot_read(spark, root, target_seg, suspect)
            if suspect
            else None
        )
        if tgt_live is not None:
            ok = F.lit(True)
            for cexpr in active_cons.values():
                ok = ok & F.coalesce(F.expr(cexpr), F.lit(True))
            try:
                violated = not tgt_live.where(~ok).isEmpty()
            except AnalysisException:
                # an unparseable constraint referencing a column the
                # target snapshot cannot express (born later, or
                # served under a pre-rename name): the restored table
                # could never enforce it — refuse with the remedy,
                # never an opaque analyzer trace
                raise ValueError(
                    f"cannot restore to v{version}: an active CHECK "
                    f"constraint ({sorted(active_cons)}) references a "
                    "column the target snapshot does not serve under "
                    "that name (renamed/dropped since, or born later) "
                    "— drop the constraint first and re-add it "
                    "against the restored schema"
                ) from None
            if violated:
                raise ValueError(
                    f"cannot restore to v{version}: rows there violate "
                    f"the active CHECK constraints "
                    f"({sorted(active_cons)}); drop them first or "
                    "restore to a later snapshot"
                )
    cdf_frame = None
    if changefeed:
        if target_seg.get("schema") != cur_seg.get("schema"):
            raise ValueError(
                "restore changefeed across schema evolution is not "
                "well-defined; restore with changefeed=False"
            )
        _check_cdf_cols(cur_seg)
        tgt_df = read_version(spark, root, version)
        cur_df = read_version(spark, root, cur)
        cdf_frame = tgt_df.exceptAll(cur_df).withColumn(
            "_change_type", F.lit("insert")
        ).unionByName(
            cur_df.exceptAll(tgt_df).withColumn(
                "_change_type", F.lit("delete")
            )
        )
    v = _commit(
        spark,
        root,
        None,
        "restore",
        target_seg["stats_cols"],
        removed=removed,
        extra={
            "restored_version": version,
            # the column mapping rolls back WITH the schema — a
            # restore across a rename serves the old names again;
            # tombstones roll back too (a restored drop makes its
            # physical live again)
            "column_mapping": _col_mapping(target_seg),
            "dropped_physical": list(
                target_seg.get("dropped_physical", [])
            ),
        },
        prev=cur_seg,
        cdf=cdf_frame,
        add_entries=adds,
        schema_json_override=target_seg.get("schema"),
    )
    return v, len(adds), len(removed)


def apply_changes(
    spark: SparkSession,
    root: str,
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    extra_meta: dict | None = None,
    changefeed: bool = False,
) -> tuple[int, int, int]:
    """CDC changelog apply — fold a batch of keyed change events
    (upserts + deletes) into the next snapshot, LATEST-WINS per key.
    The lakehouse MERGE-from-changefeed shape (Delta CDF / Hudi upsert
    / Iceberg merge-on-read compaction all materialize exactly this):
    a 100 TB corpus is refreshed from change streams, not rebuilt.

    ``changes`` carries the table's payload columns plus ``ts_col``
    (event order) and ``op_col``; rows whose op equals ``delete_op``
    remove the key, anything else upserts the payload. Multiple events
    per key resolve to the single latest by (ts, op, payload) —
    the trailing columns make the winner total-order deterministic
    when a key carries tied timestamps.

    The latest events go through :func:`_keyed_rewrite`, as
    commit_upsert's batch does: only files whose [min,max] of
    ``key_col`` intersects the CHANGE KEY RANGE are rewritten. A
    delete whose key hits no file is a no-op, an upsert for an absent
    key is an insert — no read-first existence check, so the apply is
    one bounded job regardless of table size. Returns (new_version,
    n_upserts, n_deletes).

    ``changefeed=True`` additionally records the commit's CHANGE ROWS
    (Delta CDF semantics: ``insert`` / ``update_preimage`` /
    ``update_postimage`` / ``delete``, preimages taken from the
    touched files, a delete of an absent key emits nothing) for
    :func:`table_changes` — captured here, at merge time, because the
    merge is the only moment the pre/post split is known without
    diffing snapshots."""
    from pyspark.sql import Window

    res = _keyed_table(spark, root, key_col)
    payload_cols = [c for c in changes.columns if c not in (ts_col, op_col)]
    _require_full_rows(
        _manifest_schema(res["seg"]), payload_cols, "change payload"
    )
    if changefeed:
        _check_cdf_cols(res["seg"], payload_cols)
    w = Window.partitionBy(key_col).orderBy(
        *(
            F.desc(c)
            for c in [ts_col, op_col]
            + [c for c in payload_cols if c != key_col]
        )
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", ts_col)
    ).persist()
    try:
        # one pass over the (small) change batch: key bounds + op counts
        agg = latest.agg(
            F.min(key_col).alias("lo"),
            F.max(key_col).alias("hi"),
            F.sum((F.col(op_col) == delete_op).cast("bigint")).alias("nd"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        v = _keyed_rewrite(
            spark, root, res, latest, [key_col], int(agg["n"]),
            _bound(agg["lo"]), _bound(agg["hi"]), "cdc",
            extra=extra_meta, changefeed=changefeed,
            delete=(op_col, delete_op),
        )[0]
    finally:
        # unpersist on failure too: a long-lived streaming driver
        # calling this per micro-batch would otherwise leak one cached
        # frame per commit conflict / write failure
        latest.unpersist()
    n_deletes = int(agg["nd"] or 0)
    return v, int(agg["n"]) - n_deletes, n_deletes


def optimize(
    spark: SparkSession,
    root: str,
    target_mb: int = 256,
    zorder_cols: list[str] | None = None,
    n_files: int | None = None,
    small_file_mb: float | None = None,
    purge_dv_over: float | None = None,
) -> tuple[int, int, int]:
    """Small-file compaction as a COMMIT: rewrite data into
    ~``target_mb`` files and publish the next version. Default layout
    range-sorts by the first stats column (index min/max pruning
    tightens, never degrades); with ``zorder_cols`` the rewrite is
    Morton-interleaved instead (storage.zorder_layout — the OPTIMIZE
    ZORDER BY shape), making EVERY clustering column's per-file range
    narrow simultaneously, and those columns join the log's stats_cols
    so read-side key_range pruning works on each of them.

    ``small_file_mb`` makes the compaction INCREMENTAL (the Delta
    OPTIMIZE posture): only files below the threshold are read and
    rewritten; right-sized files carry by reference — at 100 TB a
    daily append stream leaves thousands of small files next to
    terabytes of already-compacted data, and rewriting the latter per
    OPTIMIZE run would be a full-table job. ``None`` (and any zorder
    rewrite, which re-clusters globally) compacts everything — that
    full rewrite publishes a ``remove_all`` segment, which also acts
    as a log-fold barrier like a checkpoint.

    Old versions stay time-travelable — compaction is a new snapshot,
    never an in-place rewrite.
    Returns (new_version, files_before, files_after)."""
    import math as _math

    cur = _head(spark, root)
    res = _resolve(spark, root, cur)
    seg = res["seg"]
    incremental = small_file_mb is not None and not zorder_cols
    fs_ = _rel = None
    sized = []
    for e in _live_entries(spark, root, cur):
        sz = e.get("bytes")
        if sz is None:
            # pre-upgrade entry (manifest written before sizes were
            # recorded): one driver fs call — the fallback, not the
            # norm; at 10^6 files the index carries every size
            if _is_abs_dir(e["dir"]):
                # clone-by-reference entry without a recorded size:
                # stat through the FOREIGN dir's own filesystem
                ffs, frel = _arrow_fs(f"{e['dir']}/{e['path']}")
                sz = ffs.get_file_info(frel).size or 0
            else:
                if fs_ is None:
                    fs_, _rel = _arrow_fs(root)
                sz = fs_.get_file_info(
                    f"{_rel}/{DATA_DIR}/{e['dir']}/{e['path']}"
                ).size or 0
        sized.append((e, sz))
    if incremental:
        # DV'd files qualify: compacting them PURGES their deletion
        # vectors physically (Delta's REORG ... APPLY PURGE). By
        # default every DV'd file purges; ``purge_dv_over`` gates the
        # purge on per-file DV DEBT (dead rows / physical rows) so a
        # 1 GiB file is not rewritten to shed a 10-row DV — only
        # files whose anti-join debt exceeds the ratio rewrite, the
        # rest keep carrying their (cheap, broadcastable) DV.
        def _dv_hit(e: dict) -> bool:
            dv = e.get("dv")
            if not dv:
                return False
            if purge_dv_over is None:
                return True
            physical = e["rows"] + dv["rows"]  # live + dead
            return dv["rows"] > purge_dv_over * max(1, physical)

        rewrite = [
            (e, sz)
            for e, sz in sized
            if sz < small_file_mb * 1024 * 1024 or _dv_hit(e)
        ]
        if len(rewrite) <= 1 and not any(e.get("dv") for e, _ in rewrite):
            return cur, seg["total_files"], seg["total_files"]
    else:
        rewrite = sized
    total = sum(sz for _, sz in rewrite)
    # n_files overrides the size-derived count (tests / fixed layouts)
    n_out = n_files or max(1, _math.ceil(total / (target_mb * 1024 * 1024)))
    stats_cols = seg["stats_cols"]
    if incremental:
        df = _snapshot_read(spark, root, seg, [e for e, _ in rewrite])
    else:
        df = read_version(spark, root, cur)
    if zorder_cols:
        from amadeus_spark.operators.storage import zorder_layout

        # user-facing zorder cols are LOGICAL; the manifest's
        # stats_cols list is PHYSICAL (footer-derived)
        out = zorder_layout(df, zorder_cols, n_out)
        stats_cols = stats_cols + [
            p
            for p in (_phys_name(seg, c) for c in zorder_cols)
            if p not in stats_cols
        ]
    else:
        # the compaction frame carries LOGICAL names; stats_cols are
        # physical — sort by the first stats column's logical twin
        p2l = {p: l for l, p in _col_mapping(seg).items()}
        key = p2l.get(stats_cols[0], stats_cols[0]) if stats_cols else None
        out = (
            df.repartitionByRange(n_out, key).sortWithinPartitions(key)
            if key
            else df.repartition(n_out)
        )
    v = _commit(
        spark,
        root,
        out,
        "optimize",
        stats_cols,
        remove_all=not incremental,
        removed=[e for e, _ in rewrite] if incremental else None,
        prev=seg,
        # an INCREMENTAL compaction losing the CAS race to a writer
        # that didn't touch its files (ingest appends, disjoint
        # merges) re-publishes the compacted output at the bumped
        # version — background compaction must not recompute per
        # ingest commit. A full rewrite stays strict: its remove_all
        # segment would drop the winner's rows.
        conflict=(
            {"kind": "compact", "read": _rm([e for e, _ in rewrite])}
            if incremental
            else None
        ),
    )
    new_files = _read_manifest(spark, root, v)["total_files"]
    return v, seg["total_files"], new_files


def vacuum(
    spark: SparkSession,
    root: str,
    keep_last: int = 1,
    keep_since: float | _dt.datetime | None = None,
    dry_run: bool = False,
    min_staging_age_s: float = 4 * 3600.0,
) -> tuple[int, int]:
    """Reclaim space: delete log segments/checkpoints older than the
    retention window and every data file no kept snapshot references.
    Time travel below the cutoff stops working — that is the point (at
    100 TB, carrying every historical copy-on-write snapshot forever
    IS the storage bill).

    TWO retention knobs, combined PROTECTIVELY (a version survives if
    EITHER keeps it — Delta's version-count + time-duration pairing):

    - ``keep_last``: the newest N versions (count-based).
    - ``keep_since``: epoch seconds or a ``datetime`` — every version
      committed at-or-after it is kept, PLUS the newest version at-or-
      before it (the snapshot that was current then), so time travel
      to any state as of ``keep_since`` keeps working. This is how
      real pipelines size retention for lagging ``stream_table_changes``
      consumers: keep_since = now − slowest_consumer_lag, the
      wall-clock analogue of Delta's ``deletedFileRetentionDuration``.

    Before dropping old segments, a checkpoint is ensured at the
    cutoff version so every kept snapshot stays resolvable without
    them (Delta's checkpoint-before-log-truncation discipline). All
    deletion goes through the Hadoop FileSystem API (file/hdfs/s3a
    alike). Maintenance is O(files) by nature — it lists and deletes
    them. Returns (segments_deleted, data_files_deleted).

    ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``): report the same
    counts while deleting NOTHING — no segment, checkpoint, change-data,
    DV or data file is touched, and the checkpoint-before-truncation
    write is skipped too (a dry run must not mutate the log).

    SHALLOW-CLONE hazard (Delta has the identical one): a shallow
    clone made FROM this table references this table's data files by
    absolute URI, and this table has no registry of its clones — a
    vacuum here can delete files a clone still reads. Before retiring
    or aggressively vacuuming a table that may have been shallow-
    cloned, run ``optimize`` on each clone to localize its files.

    ``min_staging_age_s`` is the IN-FLIGHT-WRITER grace window: a
    writer stages its data/change-feed/deletion-vector directories
    BEFORE the manifest CAS (and a re-basing CAS loser holds them
    through manifest re-reads), so an unreferenced directory is
    indistinguishable from a live commit-in-progress until it has
    sat unreferenced for a while. Unreferenced dirs whose mtime is
    younger than the window are SKIPPED (Delta's retention-duration
    floor applied to staging) — deleting them would let the writer's
    CAS succeed and publish a manifest pointing at deleted files,
    silent data loss. Default 4 h; pass ``0`` only when every writer
    is provably quiesced (tests, single-process maintenance)."""
    _require_plain_root(root, "vacuum")
    cur = _head(spark, root)
    cutoff = max(0, cur - keep_last + 1)
    if keep_since is not None:
        if isinstance(keep_since, _dt.datetime):
            keep_since = keep_since.timestamp()
        # newest version with ts <= keep_since anchors the as-of
        # snapshot; scan downward from cur, stopping at already-
        # truncated log (nothing below it exists to keep)
        v = cur
        while v >= 0:
            try:
                ts = _commit_ts(spark, root, v)
            except (FileNotFoundError, OSError):
                v += 1  # log already truncated below here
                break
            if ts <= keep_since:
                break
            v -= 1
        cutoff = min(cutoff, max(0, v))
    segs, ckpts = _list_log(spark, root)
    if cutoff > 0 and cutoff in segs and not dry_run:
        if not (cutoff in ckpts and _ckpt_complete(spark, root, cutoff)):
            try:
                _write_checkpoint(spark, root, cutoff)
            except Exception as exc:
                # Swallowing is only safe when the cutoff's base is
                # ALREADY gone (a prior vacuum under a narrower keep
                # window) — then there is nothing left to protect.
                # Any other failure (pyarrow surfaces transient I/O
                # as OSError too) must ABORT before a single delete:
                # truncating segments below an unwritten checkpoint
                # would destroy the only recoverable base for every
                # kept version — the opposite of the checkpoint-
                # before-log-truncation discipline.
                try:
                    _resolve(spark, root, cutoff)
                except (FileNotFoundError, OSError):
                    pass  # base already vacuumed under a narrower window
                else:
                    raise RuntimeError(
                        f"vacuum aborted: checkpoint at v{cutoff} "
                        f"failed ({exc}); nothing was deleted"
                    ) from exc
    keep_refs: set[tuple[str, str]] = set()
    kept_dv: set[str] = set()
    for v in range(cutoff, cur + 1):
        try:
            for e in _live_entries(spark, root, v):
                keep_refs.add((e["dir"], e["path"]))
                if e.get("dv"):
                    kept_dv.add(e["dv"]["dir"])
        except (FileNotFoundError, OSError):
            continue  # already vacuumed under a narrower keep window
    kept_dirs = {d for d, _ in keep_refs}
    fs, _ = _hadoop_fs(spark, root)

    def _delete(jp, recursive: bool) -> None:
        if not dry_run:
            fs.delete(jp, recursive)

    grace_ms = max(0.0, min_staging_age_s) * 1000.0
    # Age in the STORE's clock domain: driver wall-clock compared
    # against object-store mtimes silently SHRINKS the grace window
    # when the store clock runs behind the driver (the dangerous
    # direction — an in-flight writer's fresh dir reads as skew-old).
    # The current manifest's own store mtime is a store-side "recent
    # now": store-mtime vs store-mtime is skew-proof, and on a quiet
    # table it only UNDERSTATES orphan age (conservative — the orphan
    # waits for the next commit or an explicit min_staging_age_s=0).
    now_ms = _time.time() * 1000.0
    try:
        _man_ms = fs.getFileStatus(
            _jpath(spark, f"{root}/{MANIFEST_DIR}/v{cur}.json")
        ).getModificationTime()
        if _man_ms > 0:
            now_ms = _man_ms
    except Exception:
        pass  # checkpointed-away manifest / exotic store: driver clock

    def _settled(jp) -> bool:
        """Is this UNREFERENCED dir past the in-flight grace window?
        Staged-but-unpublished commits look identical to reclaimable
        orphans; only age separates them. Object-store "directories"
        are synthetic (S3A reports mtime 0 for prefixes), so an
        implausible dir mtime falls back to the NEWEST object under
        the prefix — real objects carry real mtimes. Stat failures
        and empty prefixes read as in-flight (skip) — the
        conservative direction. KNOWN LEAK, accepted: an EMPTY
        object-store prefix with a persistent dir marker (no objects
        to age it) is never reclaimed by a graced vacuum — it holds
        zero data bytes; a quiesced `min_staging_age_s=0` run clears
        it."""
        if grace_ms <= 0:
            return True
        try:
            age_ref = fs.getFileStatus(jp).getModificationTime()
            if age_ref <= 0:
                newest = 0
                it = fs.listFiles(jp, True)
                while it.hasNext():
                    newest = max(newest, it.next().getModificationTime())
                if newest <= 0:
                    return False
                age_ref = newest
            return now_ms - age_ref >= grace_ms
        except Exception:
            return False

    n_manifests = 0
    for v in sorted(segs):
        if v >= cutoff:
            break
        p = _jpath(spark, f"{root}/{MANIFEST_DIR}/v{v}.json")
        if fs.exists(p):
            _delete(p, False)
            n_manifests += 1
    for c in sorted(ckpts):
        if c >= cutoff:
            break
        _delete(_jpath(spark, _ckpt_path(root, c)), True)
    # change-data dirs: keep only those a KEPT segment references —
    # covers vacuumed-away versions AND orphans from losing commits
    kept_cdf: set[str] = set()
    for v in range(cutoff, cur + 1):
        try:
            mark = _read_manifest(spark, root, v).get("cdf")
        except (FileNotFoundError, OSError):
            continue
        if isinstance(mark, dict):
            kept_cdf.add(mark["dir"])
    cdir = _jpath(spark, f"{root}/{CDF_DIR}")
    if fs.exists(cdir):
        for st in fs.listStatus(cdir):
            if st.getPath().getName() not in kept_cdf and _settled(
                st.getPath()
            ):
                _delete(st.getPath(), True)
    # deletion-vector dirs: keep only those a KEPT snapshot's live
    # entries reference — superseded DVs (a newer DV delete re-pointed
    # the entry) and losing-commit orphans go with the history
    vdir = _jpath(spark, f"{root}/{DV_DIR}")
    if fs.exists(vdir):
        for st in fs.listStatus(vdir):
            if st.getPath().getName() not in kept_dv and _settled(
                st.getPath()
            ):
                _delete(st.getPath(), True)
    # bloom-index sidecar dirs are keyed by their data commit dir:
    # reclaim them exactly when no kept snapshot references that dir
    # (same grace window — an in-flight writer stages its sidecar
    # before the CAS too)
    bdir = _jpath(spark, f"{root}/{BLOOM_DIR}")
    if fs.exists(bdir):
        for st in fs.listStatus(bdir):
            if st.getPath().getName() not in kept_dirs and _settled(
                st.getPath()
            ):
                _delete(st.getPath(), True)
    n_data = 0
    ddir = _jpath(spark, f"{root}/{DATA_DIR}")
    if fs.exists(ddir):
        for commit_status in fs.listStatus(ddir):
            cname = commit_status.getPath().getName()
            if cname not in kept_dirs:
                # no kept snapshot references ANYTHING here (includes
                # orphan staging dirs from crashed/losing commits):
                # count its parquet files, then drop the whole
                # directory so the _SUCCESS/.crc markers go with it
                # (a parquet-only delete left every dir alive forever).
                # Young dirs may be an IN-FLIGHT writer's staging —
                # the grace window leaves them for a later vacuum
                if not _settled(commit_status.getPath()):
                    continue
                it = fs.listFiles(commit_status.getPath(), True)
                while it.hasNext():
                    if it.next().getPath().getName().endswith(".parquet"):
                        n_data += 1
                _delete(commit_status.getPath(), True)
                continue
            # recursive walk: hive-adopted dirs nest their files under
            # partition subdirs; entry paths are data/-relative
            base_len = len(commit_status.getPath().toString()) + 1
            it = fs.listFiles(commit_status.getPath(), True)
            while it.hasNext():
                st = it.next()
                relp = st.getPath().toString()[base_len:]
                if relp.endswith(".parquet") and (cname, relp) not in keep_refs:
                    _delete(st.getPath(), False)
                    n_data += 1
    return n_manifests, n_data


def table_changes(
    spark: SparkSession,
    root: str,
    starting_version: int = 0,
    ending_version: int | None = None,
) -> DataFrame:
    """Change data feed read (Delta's ``table_changes``): the
    row-level changes committed in ``[starting_version,
    ending_version]`` (inclusive; default = current at call time), as
    the table's columns plus ``_change_type`` (``insert`` /
    ``update_preimage`` / ``update_postimage`` / ``delete``) and
    ``_commit_version``. This is the incremental-consumer contract: a
    downstream pipeline (index refresh, near-dup re-probe, shard
    re-export) polls ``current_version``, reads exactly the delta
    since its last high-water mark, and never rescans the table.

    Per commit the cost is O(that commit's changes): appends read
    their own add files (no copy was made — they ARE the inserts),
    compactions contribute nothing (no logical change), and merge
    commits read the change directory captured at commit time.
    Mixed-vintage change files are planned against each commit's own
    manifest schema and unioned by name, so the feed spans schema
    evolution (older changes read NULL for later-added columns).
    Raises for a merge commit recorded without ``changefeed=True`` —
    its pre/post split is unrecoverable after the fact — and for
    vacuumed versions (their log segments are gone)."""
    _require_plain_root(root, "table_changes")
    cur = _head(spark, root)
    end = cur if ending_version is None else ending_version
    if end > cur:
        raise ValueError(f"ending_version {end} > current version {cur}")
    # change files store PHYSICAL names (stable across renames): the
    # feed serves the ENDING version's LOGICAL names, unifying rows
    # from before a rename under the new name by physical identity
    # (Delta's columnMapping CDF contract). A physical dropped by the
    # ending version is omitted — it is not part of the read schema.
    end_seg = _read_manifest(spark, root, end)
    _check_cdf_cols(end_seg)
    end_schema = _manifest_schema(end_seg)
    p2l_end = (
        {_phys_name(end_seg, f.name): f.name for f in end_schema.fields}
        if end_schema is not None
        else None
    )

    def _serve_logical(df: DataFrame) -> DataFrame:
        if p2l_end is None:
            return df
        cols = []
        for c in df.columns:
            if c in ("_change_type", "_commit_version"):
                cols.append(F.col(c))
            elif c in p2l_end:
                cols.append(F.col(c).alias(p2l_end[c]))
        return df.select(*cols)

    frames: list[DataFrame] = []
    for v in range(starting_version, end + 1):
        seg = _read_manifest(spark, root, v)
        mark = seg.get("cdf")
        if mark == "none":
            continue
        if mark == "add" or (mark is None and seg["op"] == "append"):
            paths = _paths(
                root, [(e["dir"], e["path"]) for e in seg.get("add", [])]
            )
            if not paths:
                continue
            df = (
                _reader(spark, seg)
                .parquet(*paths)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(v))
            )
        elif isinstance(mark, dict):
            # _change_type AND _commit_version live IN the files (the
            # streamable-feed contract)
            schema = _physical_schema(seg)
            rd = spark.read
            if schema is not None:
                from pyspark.sql.types import LongType, StringType

                rd = rd.schema(
                    schema.add("_change_type", StringType()).add(
                        "_commit_version", LongType()
                    )
                )
            df = rd.parquet(f"{root}/{CDF_DIR}/{mark['dir']}")
        else:
            raise ValueError(
                f"version {v} ({seg['op']}) has no changefeed data — "
                "commit it with changefeed=True to make it readable "
                "as changes"
            )
        frames.append(_serve_logical(df))
    if not frames:
        return spark.createDataFrame(
            [], "_change_type string, _commit_version bigint"
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def stream_table_changes(
    spark: SparkSession, root: str, starting_version: int | None = None
) -> DataFrame:
    """The changefeed as a STRUCTURED STREAMING source — a plain file
    source over ``_change_data/``, possible because change files carry
    ``_change_type`` and ``_commit_version`` in the data. Each commit
    with ``changefeed=True`` lands new files there; the file source
    discovers them, the stream checkpoint guarantees each file is
    processed exactly once, and downstream gets the same rows batch
    :func:`table_changes` would return for those versions — no custom
    source machinery, Spark's own listing/offset code does the work.

    Feed completeness is the TABLE's responsibility: only commits made
    with ``changefeed=True`` (including appends — see
    :func:`commit_append`) appear in the stream; a compaction
    contributes nothing, as it should. Schema is pinned at call time
    from the current manifest (file sources stream one fixed schema).
    Combine with ``.trigger(availableNow=True)`` for the poll-and-
    drain incremental-consumer loop, or a continuous trigger for a
    live pipeline.

    ``starting_version`` (Delta's ``startingVersion``): deliver only
    changes from that commit on. The horizon is a ROW filter on
    ``_commit_version`` — older change files are still listed and
    read ONCE by the first drain (their rows drop in the filter),
    because a file-stream glob cannot express "version >= N" over
    ``v{N}-<uuid>`` dir names; the one-time cost is bounded by the
    table's retention window (vacuum reclaims old change dirs), after
    which the checkpoint never revisits them.

    Retention caveat (same as Delta CDF): :func:`vacuum` deletes
    change dirs outside its keep window — a consumer lagging further
    behind than the table's retention fails on the missing files. Size
    ``keep_last`` to cover the slowest consumer's lag.

    Crashed-writer caveat: change dirs are STAGED before the manifest
    CAS, and a writer that dies in that window leaves an orphan dir
    the file source cannot distinguish from a published commit (CAS
    LOSERS clean up after themselves; only a process death between
    staging and publish leaves one). Its rows would stream as changes
    that never committed until :func:`vacuum` reclaims the orphan
    past the grace window — the same dir-vs-log gap Delta closes by
    reading the log as the source; bound the exposure by running
    vacuum on a schedule, or drain via batch :func:`table_changes`
    (log-driven, phantom-free) where exactness matters more than
    latency."""
    _require_plain_root(root, "stream_table_changes")
    cur = _head(spark, root)
    from pyspark.sql.types import LongType, StringType

    cur_seg = _read_manifest(spark, root, cur)
    _check_cdf_cols(cur_seg)
    schema = _physical_schema(cur_seg)
    if schema is None:
        raise ValueError(
            f"{root}: table has no manifest schema to stream with"
        )
    schema = schema.add("_change_type", StringType()).add(
        "_commit_version", LongType()
    )
    # a consumer may attach BEFORE the first changefeed commit lands:
    # ensure _change_data/ exists so the file source starts (empty)
    # instead of failing path-does-not-exist at stream start
    fs, _ = _hadoop_fs(spark, root)
    fs.mkdirs(_jpath(spark, f"{root}/{CDF_DIR}"))
    feed = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{root}/{CDF_DIR}/*")
    )
    # change files carry PHYSICAL names; serve the pinned (current)
    # LOGICAL ones — one projection, streaming-safe
    feed = _to_logical(feed, cur_seg)
    if starting_version is not None:
        feed = feed.filter(F.col("_commit_version") >= starting_version)
    return feed


def commit_with_retry(fn, attempts: int = 3):
    """Optimistic-concurrency retry loop — the RECOMPUTE tier of the
    two-tier conflict story. Tier 1 lives INSIDE the commit (see
    :func:`_rebase_ok`): a loser whose footprint is provably disjoint
    from every interposed winner re-publishes its already-staged files
    at the bumped version without re-running the Spark job (appends
    always; key-pruned merges/upserts/CDC when the winner's file set
    and key range don't overlap theirs). Only when that classification
    says "genuinely overlapping" (or the commit shape is
    unclassifiable — predicate DELETE/UPDATE, optimize, restore) does
    the conflict surface here, and ``fn()`` (a closure over
    commit_append / commit_upsert / commit_merge / apply_changes —
    each re-resolves the CURRENT snapshot at call time) is re-invoked
    to recompute against the winner's table state. Raises the last
    conflict after ``attempts`` losses (persistent contention needs
    coordination, not more retries)."""
    last: Exception | None = None
    for _ in range(attempts):
        try:
            return fn()
        except RuntimeError as e:
            if "concurrent commit" not in str(e):
                raise
            last = e
    raise last


def set_check_constraint(
    spark: SparkSession, root: str, name: str, expr: str
) -> int:
    """ADD a table-level CHECK constraint (Delta's ``ALTER TABLE ADD
    CONSTRAINT``): ``expr`` is a SQL predicate every row must satisfy
    (NOT FALSE — NULL passes, SQL CHECK semantics). Existing data is
    validated FIRST with one predicate-pushed scan (add fails if any
    live row violates — Delta's contract), then the constraint lands
    as a manifest commit and every subsequent data commit (append /
    upsert / merge / update post-images / CDC) enforces it IN the
    write pass — a violating row aborts the write before any manifest
    publishes (see :func:`_enforce_constraints`). Returns the new
    version."""
    cur = _head(spark, root)
    res = _resolve(spark, root, cur)
    seg = res["seg"]
    cons = dict(seg.get("constraints", {}))
    if name in cons:
        # Delta errors on a duplicate name — silently replacing could
        # WEAKEN enforcement the operator believes is still active
        raise ValueError(
            f"CHECK constraint {name!r} already exists "
            f"({cons[name]}); drop it first to replace"
        )
    live = _snapshot_read(
        spark, root, seg, _pruned_entries(spark, root, res, slim=True)
    )
    if live is not None and not live.where(
        ~F.coalesce(F.expr(expr), F.lit(True))
    ).isEmpty():
        raise ValueError(
            f"cannot add CHECK constraint {name!r}: existing rows "
            f"violate ({expr})"
        )
    cons[name] = expr
    return _commit(
        spark, root, None, "set_constraint", seg["stats_cols"],
        prev=seg, extra={"constraints": cons},
    )


def drop_check_constraint(
    spark: SparkSession, root: str, name: str
) -> int:
    """DROP a CHECK constraint by name (no-op error if absent — a
    typo'd drop must not silently succeed). Returns the new version."""
    cur = _head(spark, root)
    seg = _read_manifest(spark, root, cur)
    cons = dict(seg.get("constraints", {}))
    if name not in cons:
        raise ValueError(
            f"no CHECK constraint {name!r} (have: {sorted(cons)})"
        )
    del cons[name]
    return _commit(
        spark, root, None, "drop_constraint", seg["stats_cols"],
        prev=seg, extra={"constraints": cons},
    )


def _check_constraint_refs(constraints: dict, col: str, what: str) -> None:
    """Refuse a rename/drop of a column a CHECK constraint references
    (word-boundary match — conservative: a false positive just forces
    dropping and re-adding the constraint, Delta's own discipline; a
    silent rename would leave the constraint enforcing against a name
    that no longer resolves)."""
    pat = _re.compile(rf"\b{_re.escape(col)}\b")
    hit = sorted(n for n, x in constraints.items() if pat.search(x))
    if hit:
        raise ValueError(
            f"cannot {what} column {col!r}: CHECK constraints {hit} "
            "reference it — drop them first and re-add against the "
            "new name"
        )


def rename_column(spark: SparkSession, root: str, old: str, new: str) -> int:
    """RENAME COLUMN as a METADATA-ONLY commit (Delta's columnMapping,
    name mode): the logical name moves; the PHYSICAL parquet name —
    frozen at the column's birth — stays, so zero data rewrites, and
    time travel / CDF / restore keep working: each snapshot reads
    through its own mapping, serving the names it was committed under.
    Columns referenced by CHECK constraints must drop those first
    (Delta's rule). Returns the new version."""
    cur = _head(spark, root)
    seg = _read_manifest(spark, root, cur)
    schema = _manifest_schema(seg)
    if schema is None:
        raise ValueError(f"{root}: pre-schema table cannot rename columns")
    names = [f.name for f in schema.fields]
    old = _resolve_col(names, old, "rename_column")
    # case-INSENSITIVE: 'VAL' over 'val' would go ambiguous under
    # Spark's default case-insensitive resolution
    if new.lower() in {n.lower() for n in names if n != old}:
        raise ValueError(f"column {new!r} already exists (columns: {names})")
    _check_reserved([new], "rename target", prefix=True)
    _check_constraint_refs(dict(seg.get("constraints", {})), old, "rename")
    mapping = _col_mapping(seg)
    phys = mapping.pop(old, old)
    if phys != new:
        mapping[new] = phys
    renamed = _st.StructType(
        [
            _st.StructField(
                new if f.name == old else f.name, f.dataType, f.nullable
            )
            for f in schema.fields
        ]
    )
    return _commit(
        spark, root, None, "rename_column", seg["stats_cols"],
        prev=seg,
        extra={
            "column_mapping": mapping,
            "dropped_physical": list(seg.get("dropped_physical", [])),
            "renamed": {"from": old, "to": new},
        },
        schema_json_override=renamed.json(),
    )


def drop_column(spark: SparkSession, root: str, name: str) -> int:
    """DROP COLUMN as a METADATA-ONLY commit: the logical column leaves
    the schema; its physical parquet column stays in the files, unread
    (scans plan against the manifest schema, never footers), and its
    physical name is TOMBSTONED so a later re-add of the same logical
    name gets a fresh physical and can never resurrect the old values
    out of carried files. Time travel to pre-drop snapshots still
    serves the column. Returns the new version."""
    cur = _head(spark, root)
    seg = _read_manifest(spark, root, cur)
    schema = _manifest_schema(seg)
    if schema is None:
        raise ValueError(f"{root}: pre-schema table cannot drop columns")
    names = [f.name for f in schema.fields]
    name = _resolve_col(names, name, "drop_column")
    if len(names) == 1:
        raise ValueError("cannot drop the table's only column")
    _check_constraint_refs(dict(seg.get("constraints", {})), name, "drop")
    mapping = _col_mapping(seg)
    phys = mapping.pop(name, name)
    tomb = list(seg.get("dropped_physical", []))
    tomb.append(phys)
    remaining = _st.StructType(
        [f for f in schema.fields if f.name != name]
    )
    # the dropped physical leaves stats_cols (new files won't carry
    # it; old entries' stats keys are harmless leftovers)
    stats_cols = [c for c in seg["stats_cols"] if c != phys]
    return _commit(
        spark, root, None, "drop_column", stats_cols,
        prev=seg,
        extra={
            "column_mapping": mapping,
            "dropped_physical": tomb,
            "dropped": name,
        },
        schema_json_override=remaining.json(),
    )


def add_column(
    spark: SparkSession, root: str, name: str, dtype: str
) -> int:
    """ADD COLUMN as a METADATA-ONLY commit (Delta's ``ALTER TABLE ...
    ADD COLUMNS``): the schema widens by one nullable column; existing
    files never carry it and read NULL through the manifest schema —
    zero data rewrites on a 100 TB table. On a mapped table (or when
    the name was previously dropped) the new column gets a fresh
    physical name so it can never resurrect tombstoned values out of
    carried files. ``dtype`` is a Spark DDL type string ("bigint",
    "array<double>", ...). Returns the new version."""
    cur = _head(spark, root)
    seg = _read_manifest(spark, root, cur)
    schema = _manifest_schema(seg)
    if schema is None:
        raise ValueError(f"{root}: pre-schema table cannot add columns")
    names = [f.name for f in schema.fields]
    # case-INSENSITIVE duplicate check: Spark resolution is
    # case-insensitive by default, so committing both 'val' and 'VAL'
    # would make every later reference AMBIGUOUS_REFERENCE — brick
    if name.lower() in {n.lower() for n in names}:
        raise ValueError(f"column {name!r} already exists (columns: {names})")
    _check_reserved([name], "add_column", prefix=True)
    new_type = _st.StructType.fromDDL(f"`{name}` {dtype}")[name].dataType
    mapping = _col_mapping(seg)
    tomb = list(seg.get("dropped_physical", []))
    used_phys = {mapping.get(n, n) for n in names}
    extra: dict = {"added": {"column": name, "type": dtype}}
    if name in used_phys or name in tomb:
        mapping[name] = f"{name}_{uuid.uuid4().hex[:8]}"
    if mapping:
        extra["column_mapping"] = mapping
        extra["dropped_physical"] = tomb
    widened = _st.StructType(
        list(schema.fields) + [_st.StructField(name, new_type, True)]
    )
    return _commit(
        spark, root, None, "add_column", seg["stats_cols"],
        prev=seg, extra=extra, schema_json_override=widened.json(),
    )


#: lossless type-widening matrix (Delta type widening, restricted to
#: pairs whose MANIFEST-STATS collation space stays compatible: int
#: stats compare numerically against double bounds, so numeric
#: widenings prune correctly on old entries; date→timestamp is
#: EXCLUDED — date stats are ISO-day strings that misorder against
#: timestamp bounds and would silently mis-prune old files)
_WIDEN_OK: dict[type, tuple[type, ...]] = {
    _st.ByteType: (
        _st.ShortType, _st.IntegerType, _st.LongType, _st.DoubleType,
    ),
    _st.ShortType: (_st.IntegerType, _st.LongType, _st.DoubleType),
    _st.IntegerType: (_st.LongType, _st.DoubleType),
    _st.FloatType: (_st.DoubleType,),
}


def _widen_allowed(old, new) -> bool:
    """Is ``new`` a LOSSLESS widening of ``old`` (equal counts)? The
    scalar matrix above, recursed into every NESTED position — array
    elements, map VALUES, struct fields — because Spark's parquet scan
    upcasts nested leaf types through the declared read schema exactly
    like top-level ones (probe-verified: array<int> files read as
    array<long>, struct field float as double). The stats-collation
    audit that restricts the scalar matrix is VACUOUS below top level:
    :func:`_file_entries` matches stats by top-level leaf path only, so
    nested columns never carry manifest stats and no pruning decision
    can misorder. Map KEYS are frozen (key equality drives lookup/join
    semantics; Delta freezes them too). Decimal widens to any
    ``decimal(p2,s2)`` with ``s2 >= s`` and ``p2-s2 >= p-s`` (integer
    digits never shrink — every representable value carries over
    exactly; decimal footer stats are Decimal objects
    :func:`_stat_jsonable` already refuses, so decimal columns carry
    no manifest stats and the collation space is untouched)."""
    if old.simpleString() == new.simpleString():
        return True
    if isinstance(old, _st.ArrayType) and isinstance(new, _st.ArrayType):
        return _widen_allowed(old.elementType, new.elementType)
    if isinstance(old, _st.MapType) and isinstance(new, _st.MapType):
        return (
            old.keyType.simpleString() == new.keyType.simpleString()
            and _widen_allowed(old.valueType, new.valueType)
        )
    if isinstance(old, _st.StructType) and isinstance(new, _st.StructType):
        return len(old.fields) == len(new.fields) and all(
            of.name == nf.name and _widen_allowed(of.dataType, nf.dataType)
            for of, nf in zip(old.fields, new.fields)
        )
    if isinstance(old, _st.DecimalType) and isinstance(new, _st.DecimalType):
        return new.scale >= old.scale and (
            new.precision - new.scale >= old.precision - old.scale
        )
    return type(new) in _WIDEN_OK.get(type(old), ())


def _resolve_col(names: list[str], name: str, what: str) -> str:
    """Resolve ``name`` against the schema CASE-INSENSITIVELY — Spark's
    default resolution is, so an ALTER addressed as 'Val' must find the
    column every read and write already resolves as 'val'. Returns the
    schema's actual spelling; raises on absent (the add/rename dup
    checks guarantee at most one case-insensitive match exists)."""
    hits = [n for n in names if n.lower() == name.lower()]
    if not hits:
        raise ValueError(f"{what}: no column {name!r} (columns: {names})")
    return hits[0]


def widen_column_type(
    spark: SparkSession, root: str, name: str, dtype: str
) -> int:
    """TYPE WIDENING as a METADATA-ONLY commit (Delta's type widening):
    the column's declared type widens losslessly (byte→short→int→long,
    byte/short/int→double, float→double, ``decimal(p,s)`` to any
    decimal whose scale and integer-digit count both grow-or-hold —
    and the SAME pairs at any NESTED position: ``array<int>`` →
    ``array<long>``, map VALUE types, struct fields, recursively);
    existing parquet files stay untouched — Spark's scan upcasts their
    narrower physical type through the manifest schema, nested leaves
    included — and later writes land in the wide type. Stats keep
    pruning correctly: old integer min/max compare numerically against
    widened bounds; nested and decimal columns carry no manifest stats
    at all, so no pruning decision rides on those positions. Narrowing
    or lossy pairs (long→double truncates above 2^53; date→timestamp
    would misorder the stats collation space), map KEY changes (key
    equality is lookup semantics — frozen, as in Delta), and struct
    field add/remove/reorder are refused. ``name`` resolves
    case-insensitively, matching Spark's resolution. NO-OP (returns the
    CURRENT version, no commit — callers chaining ``history()`` by
    returned version should compare against ``current_version`` first)
    when the column already has exactly the requested type."""
    cur = _head(spark, root)
    seg = _read_manifest(spark, root, cur)
    schema = _manifest_schema(seg)
    if schema is None:
        raise ValueError(f"{root}: pre-schema table cannot widen columns")
    names = [f.name for f in schema.fields]
    name = _resolve_col(names, name, "widen_column_type")
    new_type = _st.StructType.fromDDL(f"`{name}` {dtype}")[name].dataType
    old_type = schema[name].dataType
    if old_type.simpleString() == new_type.simpleString():
        return cur  # no-op: already that type (no commit is written)
    # a BLOOM-INDEXED column must stay in the canonical-bigint hash
    # family: int→double is a lossless widening for the data but
    # hashes a different value space than the existing bitmaps and
    # probe path (_bloom_canon casts integrals only) — every key_in
    # lookup and keyed delete on the column would break on a state
    # the ALTER itself permitted
    spec_cols = (seg.get("bloom") or {}).get("cols", [])
    if _phys_name(seg, name) in spec_cols and not isinstance(
        new_type,
        (_st.ByteType, _st.ShortType, _st.IntegerType, _st.LongType,
         _st.StringType),
    ):
        raise ValueError(
            f"cannot widen bloom-indexed column {name!r} to "
            f"{new_type.simpleString()}: the index hashes integral "
            "values through a canonical bigint cast — "
            "drop_bloom_index first, then widen and re-index"
        )
    if not _widen_allowed(old_type, new_type):
        key_change = (
            isinstance(old_type, _st.MapType)
            and isinstance(new_type, _st.MapType)
            and old_type.keyType.simpleString()
            != new_type.keyType.simpleString()
        )
        raise ValueError(
            f"cannot widen {name!r} from {old_type.simpleString()} to "
            f"{new_type.simpleString()} — "
            + (
                "map KEY types are frozen (key equality is lookup/join "
                "semantics); widen the VALUE type only"
                if key_change
                else "lossless widenings only: byte→short→int→long, "
                "byte/short/int→double, float→double, decimal scale/"
                "precision growth, and the same pairs inside array "
                "elements, map values and struct fields"
            )
        )
    widened = _st.StructType(
        [
            _st.StructField(
                f.name,
                new_type if f.name == name else f.dataType,
                f.nullable,
            )
            for f in schema.fields
        ]
    )
    return _commit(
        spark, root, None, "widen_type", seg["stats_cols"],
        prev=seg,
        extra={
            "widened": {
                "column": name,
                "from": old_type.simpleString(),
                "to": new_type.simpleString(),
            }
        },
        schema_json_override=widened.json(),
    )


def set_bloom_index(
    spark: SparkSession, root: str, cols: list[str], fpp: float = 0.05
) -> int:
    """Enable a per-file BLOOM FILTER INDEX over ``cols`` (Delta's
    ``bloomFilterIndex`` table property) as a metadata-only commit:
    every data-writing commit FROM HERE ON builds per-(file, column)
    bitmaps into ``_bloom/<staging-dir>/`` sidecar parquet — one
    bounded distributed job over its own fresh files — and
    :func:`read_version` ``key_in=[...]`` point lookups prune files
    through them. Files written BEFORE this commit are unindexed and
    always kept (Delta semantics: the index covers files written
    under it; an ``optimize`` rewrite re-indexes them, since rewrites
    funnel through the same commit path). Columns must be integral or
    string (point equality on floats is ill-defined; integral columns
    hash through a canonical bigint cast so a later
    ``widen_column_type`` cannot split the hash space); names resolve
    case-insensitively and are stored PHYSICAL, so renames never
    detach the index. ``fpp`` is the per-file false-positive rate —
    sizing is per file from its row count (~6.2 bits/row at 0.05).
    Returns the new version."""
    cur = _head(spark, root)
    seg = _read_manifest(spark, root, cur)
    schema = _manifest_schema(seg)
    if schema is None:
        raise ValueError(f"{root}: pre-schema table cannot set a bloom index")
    if not cols:
        raise ValueError("set_bloom_index needs at least one column")
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    names = [f.name for f in schema.fields]
    phys: list[str] = []
    for c in cols:
        c = _resolve_col(names, c, "set_bloom_index")
        dt = schema[c].dataType
        if not isinstance(
            dt,
            (
                _st.ByteType, _st.ShortType, _st.IntegerType,
                _st.LongType, _st.StringType,
            ),
        ):
            raise ValueError(
                f"bloom index on {c!r} ({dt.simpleString()}): only "
                "integral and string columns — point equality on "
                "float/decimal/nested values is ill-defined"
            )
        phys.append(_phys_name(seg, c))
    return _commit(
        spark, root, None, "set_bloom_index", seg["stats_cols"],
        prev=seg,
        extra={"bloom": {"cols": phys, "fpp": fpp}},
    )


def drop_bloom_index(spark: SparkSession, root: str) -> int:
    """Disable the bloom index (metadata-only): later commits stop
    building sidecars and ``key_in`` lookups fall back to stats-only
    pruning. Existing sidecar dirs become inert and are reclaimed by
    :func:`vacuum` together with their data dirs. Returns the new
    version."""
    cur = _head(spark, root)
    seg = _read_manifest(spark, root, cur)
    if not seg.get("bloom"):
        return cur  # no-op: no index configured (no commit is written)
    return _commit(
        spark, root, None, "drop_bloom_index", seg["stats_cols"],
        prev=seg, extra={"bloom": None},
    )


def _adopt_files(srcs: list[str], commit_dir: str) -> None:
    """Bring existing parquet files under a table's staging dir with
    ZERO data movement where the filesystem allows it: ``os.link`` on
    a local same-device path (the file content is never read), else a
    pyarrow stream copy (cross-device local, object stores — still
    one-pass, no decode). Adopted names keep their basenames (unique
    within one staging dir by construction: callers pass one source
    directory's listing, or uuid-prefix on collision)."""
    import shutil as _sh

    fs_dst, dst_rel = _arrow_fs(commit_dir)
    if _is_local(commit_dir):
        os.makedirs(_local_path(commit_dir), exist_ok=True)
    else:
        fs_dst.create_dir(dst_rel, recursive=True)
    seen: set[str] = set()
    for src in srcs:
        base = os.path.basename(src)
        if base in seen:
            base = f"{uuid.uuid4().hex[:8]}-{base}"
        seen.add(base)
        if _is_local(commit_dir) and _is_local(src):
            s, d = _local_path(src), os.path.join(
                _local_path(commit_dir), base
            )
            try:
                os.link(s, d)
                continue
            except OSError:
                _sh.copyfile(s, d)  # cross-device: one-pass copy
                continue
        fs_src, src_rel = _arrow_fs(src)
        with fs_src.open_input_stream(src_rel) as fin, \
                fs_dst.open_output_stream(f"{dst_rel}/{base}") as fout:
            _sh.copyfileobj(fin, fout, 8 * 1024 * 1024)


def _pval_stat(dtype, raw: str):
    """Directory-name partition value → manifest-stats form, typed to
    match what footer stats of the same column yield once later
    commits materialize it as a data column (int stays int, date
    NORMALIZES to its zero-padded ISO string — :func:`_stat_jsonable`'s
    form; a non-Spark writer's ``dt=2024-1-2`` dir would otherwise
    misorder lexicographically against the padded bounds
    :func:`_bound` emits and silently mis-prune). Unsupported types
    (bool, timestamp — dir encoding differs from isoformat) and
    unparseable values carry no stats: conservative, the file is
    simply never pruned on them."""
    try:
        if isinstance(dtype, (_st.ByteType, _st.ShortType,
                              _st.IntegerType, _st.LongType)):
            return int(raw)
        if isinstance(dtype, (_st.FloatType, _st.DoubleType)):
            return float(raw)
        if isinstance(dtype, _st.StringType):
            return raw
        if isinstance(dtype, _st.DateType):
            return (
                _dt.datetime.strptime(raw, "%Y-%m-%d").date().isoformat()
            )
    except ValueError:
        return None
    return None


def convert_to_versioned(
    spark: SparkSession,
    root: str,
    src_dir: str,
    stats_cols: list[str] | None = None,
    partition_cols: list[str] | None = None,
) -> tuple[int, int, int]:
    """CONVERT TO DELTA: adopt an existing plain-parquet directory as
    version 0 of a NEW versioned table with zero data rewrites — on a
    local filesystem the files are HARD-LINKED into the table's
    staging layout (content never read beyond the footers), elsewhere
    they stream-copy once. Footer min/max stats for ``stats_cols``
    are harvested at convert time exactly like a fresh commit's, so
    key-range pruning/upserts work immediately; the schema comes from
    one footer-merge read of the source. This is how a 100 TB
    already-landed parquet lake joins the log without a rewrite
    campaign. Returns ``(version, n_files, n_rows)``.

    ``partition_cols`` adopts a HIVE-PARTITIONED lake (Delta's
    ``CONVERT TO DELTA ... PARTITIONED BY``): every file must sit at
    exactly ``name=value/...`` depth in the declared column order; the
    directory layout is MIRRORED under the staging dir (entry paths
    keep their partition subpath), values parse out of the directory
    names as per-file min==max stats — so partition PRUNING falls out
    of the ordinary stats machinery — and reads materialize the
    columns natively via one ``basePath`` scan (see
    :func:`_snapshot_read`). Partition columns are appended to the
    recorded stats_cols: later commits write them as ordinary data
    columns and harvest footer stats, so pruning survives rewrites.
    (Reference reads hive-partitioned fixtures:
    /root/reference/tests/parquet.rs; this is the Spark-first log
    adoption of the same layout.)"""
    _require_plain_root(root, "convert_to_versioned")
    _require_plain_root(src_dir, "convert_to_versioned source")
    if current_version(spark, root) >= 0:
        raise ValueError(
            f"{root} is already a versioned table — convert targets a "
            "fresh root"
        )
    from urllib.parse import unquote

    from pyarrow import fs as pafs

    fs_src, src_rel = _arrow_fs(src_dir)
    all_pq = [
        info.path
        for info in fs_src.get_file_info(
            pafs.FileSelector(src_rel, recursive=True)
        )
        if info.path.endswith(".parquet")
    ]
    depth = len(src_rel.rstrip("/").split("/"))
    pcols = list(partition_cols or [])
    if not pcols:
        # FLAT directories only: a hive-partitioned lake encodes
        # partition VALUES in directory names — adopting its leaf
        # files without declaring them would read the partition
        # columns as NULL forever. Refuse loudly instead of adopting
        # partially/wrongly.
        nested = [p for p in all_pq if len(p.split("/")) > depth + 1]
        if nested:
            raise ValueError(
                f"{src_dir} holds parquet under subdirectories (e.g. "
                f"{nested[0]!r}) — declare the layout with "
                "partition_cols=[...] to adopt a hive-partitioned "
                "lake, or pass a flat directory"
            )
    files = sorted(
        p for p in all_pq
        if len(p.split("/")) == depth + 1 + len(pcols)
    )
    stray = sorted(set(all_pq) - set(files))
    if stray:
        raise ValueError(
            f"{src_dir}: {stray[0]!r} does not sit at the declared "
            f"partition depth ({len(pcols)} levels of name=value) — "
            "mixed layouts cannot be adopted"
        )
    if not files:
        raise FileNotFoundError(f"no parquet files under {src_dir}")
    # per-leaf partition values, validated against the declared order
    leaf_vals: dict[str, list[str]] = {}
    for p in files:
        rel = p[len(src_rel.rstrip("/")) + 1:]
        segs = rel.split("/")[:-1]
        vals = []
        for i, seg in enumerate(segs):
            name, eq, raw = seg.partition("=")
            if not eq or name != pcols[i]:
                raise ValueError(
                    f"{src_dir}: segment {seg!r} of {rel!r} does not "
                    f"match partition column {pcols[i]!r} — directory "
                    "order must equal partition_cols order"
                )
            if raw == "__HIVE_DEFAULT_PARTITION__":
                raise ValueError(
                    f"{src_dir}: {rel!r} carries a NULL partition "
                    "value (__HIVE_DEFAULT_PARTITION__) — NULL-keyed "
                    "partitions cannot be adopted"
                )
            vals.append(unquote(raw))
        leaf_vals.setdefault("/".join(segs), vals)
    scheme = src_dir.split("://", 1)[0] + "://" if "://" in src_dir else ""
    # UNION of every footer's schema (mergeSchema): a schema-evolved
    # lake must not silently lose later-added columns to whichever
    # single footer Spark happens to sample. Reading the lake ROOT
    # also runs Spark's own partition discovery, so partition columns
    # arrive typed (int/date/string inference) in this schema.
    inferred = (
        spark.read.option("mergeSchema", "true").parquet(src_dir).schema
    )
    missing = [c for c in pcols if c not in inferred.names]
    if missing:
        raise ValueError(
            f"partition_cols {missing} not discovered in {src_dir} "
            f"(schema: {inferred.names})"
        )
    schema_json = inferred.json()
    ptypes = {c: inferred[c].dataType for c in pcols}
    commit_dir = f"{root}/{DATA_DIR}/commit-v0-{uuid.uuid4().hex[:8]}"
    staging_name = os.path.basename(commit_dir)
    entries: list[dict] = []
    if pcols:
        by_leaf: dict[str, list[str]] = {}
        for p in files:
            rel = p[len(src_rel.rstrip("/")) + 1:]
            by_leaf.setdefault(os.path.dirname(rel), []).append(
                f"{scheme}{p}"
            )
        for leaf in sorted(by_leaf):
            _adopt_files(sorted(by_leaf[leaf]), f"{commit_dir}/{leaf}")
            pstats = {}
            for c, raw in zip(pcols, leaf_vals[leaf]):
                v = _pval_stat(ptypes[c], raw)
                if v is not None:
                    pstats[c] = [v, v]  # a partition IS min==max
            for e in _file_entries(f"{commit_dir}/{leaf}",
                                   stats_cols or []):
                e["dir"] = staging_name
                e["path"] = f"{leaf}/{e['path']}"
                e["stats"].update(pstats)
                entries.append(e)
        stats_cols = list(stats_cols or []) + [
            c for c in pcols if c not in (stats_cols or [])
        ]
        entries.sort(key=lambda e: (e["dir"], e["path"]))
    else:
        _adopt_files([f"{scheme}{p}" for p in files], commit_dir)
        entries = _file_entries(commit_dir, stats_cols or [])
    # version PINNED to 0 (the emptiness check above): an interposed
    # table creation COLLIDES on the CAS instead of this convert
    # silently landing on top of it as v1. The adopted dir is this
    # convert's own (links/copies of still-intact source files)
    v = _commit(
        spark, root, None, "convert", stats_cols or [],
        add_entries=entries, schema_json_override=schema_json,
        prev={"version": -1}, cdf="none", staged=(commit_dir,),
    )
    return v, len(entries), _nrows(entries)


def clone_table(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    version: int | None = None,
    as_of_ts: float | _dt.datetime | None = None,
    shallow: bool = False,
) -> tuple[int, int, int]:
    """CLONE a versioned table's snapshot into a NEW independent table
    — the zero-copy dev/test/branching snapshot (Delta's CLONE): on a
    local filesystem every live data file (and any deletion-vector
    file it reads through) is HARD-LINKED into the clone's own layout,
    so cloning a 100 TB table costs O(files) metadata; elsewhere the
    files stream-copy once. The clone carries the source snapshot's
    schema, column mapping, tombstones and CHECK constraints, starts
    its own log at version 0, and shares NO log state afterwards —
    writes/vacuum on either side never affect the other (links count
    references; the OS reclaims content when both drop it). Pin the
    source snapshot with ``version``/``as_of_ts`` (defaults to
    current). Returns ``(version, n_files, n_rows)``.

    ``shallow=True`` is Delta's SHALLOW CLONE — BY REFERENCE on any
    store: no data object moves at all; the clone's entries carry the
    source commit dirs as ABSOLUTE URIs (``_dir_uri``), reads resolve
    them directly, writes land under the clone's own root, and the
    clone's ``vacuum`` never touches foreign-rooted files (they are
    not under its data/ dir to list). O(files) MANIFEST metadata even
    on an object store, where a deep clone would stream-copy the
    corpus. The one shared-fate caveat (same as Delta's): vacuuming
    the SOURCE can remove files a shallow clone still references —
    run ``optimize`` on the clone to localize before retiring the
    source."""
    _require_plain_root(src_root, "clone_table (source)")
    _require_plain_root(dst_root, "clone_table (destination)")
    if current_version(spark, dst_root) >= 0:
        raise ValueError(
            f"{dst_root} is already a versioned table — clone targets "
            "a fresh root"
        )
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ts, not both")
        version = version_as_of(spark, src_root, as_of_ts)
    cur = _head(spark, src_root)
    v_src = cur if version is None else version
    res = _resolve(spark, src_root, v_src)
    seg = res["seg"]
    entries = _pruned_entries(spark, src_root, res)  # full: stats carry
    # MIRROR the source's staging-dir layout verbatim: entries (and
    # their deletion-vector refs) carry over UNCHANGED, so the DV
    # anti-join's physical row identity — (staging dir, file name,
    # row index) read off _metadata — still matches the dv parquet's
    # recorded rows. Renaming adopted files would silently break that
    # match and resurrect deleted rows.
    new_entries: list[dict] = []
    staged: list[str] = []  # the dirs this clone writes under dst
    if shallow:
        # surface the shared-fate caveat AT CREATION — the source has
        # no registry of its clones, so this is the one moment both
        # sides are in hand to say it (the source's vacuum docstring
        # carries the mirror warning)
        warnings.warn(
            f"shallow clone {dst_root} references {src_root}'s data "
            "files by URI: vacuum/retirement of the SOURCE can break "
            "this clone — run optimize on the clone to localize "
            "before retiring the source",
            stacklevel=2,
        )
        # entries flip to absolute source URIs; nothing is staged.
        # (A source entry already foreign — clone of a shallow clone —
        # stays as it is: _dir_uri returns absolutes verbatim.)
        base = (
            src_root if "://" in src_root else os.path.abspath(src_root)
        )
        for e in entries:
            ne = dict(e)
            ne["dir"] = _dir_uri(base, e["dir"])
            if e.get("dv"):
                ne["dv"] = dict(e["dv"], dir=_dv_uri(base, e["dv"]["dir"]))
            new_entries.append(ne)
        # fail NOW on a derived-identity collision, not at first DML
        _ident_map(new_entries, "clone_table(shallow=True)")
    else:
        from pyarrow import fs as pafs

        # deep clone LOCALIZES: a foreign entry (source was itself a
        # shallow clone) copies in under its source dir's basename —
        # derived row identity is that basename already, so carried
        # DV rows keep matching
        by_dir: dict[str, list[dict]] = {}
        dv_dirs: set[str] = set()
        for e in entries:
            ne = dict(e)
            if _is_abs_dir(e["dir"]):
                ne["dir"] = os.path.basename(e["dir"].rstrip("/"))
            if e.get("dv"):
                dvd = e["dv"]["dir"]
                if _is_abs_dir(dvd):
                    ne["dv"] = dict(
                        e["dv"], dir=os.path.basename(dvd.rstrip("/"))
                    )
            new_entries.append(ne)
            by_dir.setdefault(e["dir"], []).append(e)
            if e.get("dv"):
                dv_dirs.add(e["dv"]["dir"])
        _ident_map(new_entries, "clone_table")
        for d, es in sorted(by_dir.items()):
            src_base = _dir_uri(src_root, d)
            d_local = (
                os.path.basename(d.rstrip("/")) if _is_abs_dir(d) else d
            )
            staged.append(f"{dst_root}/{DATA_DIR}/{d_local}")
            # hive-adopted entries nest under partition subdirs:
            # mirror the subpath, or entry paths would dangle
            by_sub: dict[str, list[dict]] = {}
            for e in es:
                by_sub.setdefault(
                    os.path.dirname(e["path"]), []
                ).append(e)
            for sub, ses in sorted(by_sub.items()):
                _adopt_files(
                    [f"{src_base}/{e['path']}" for e in ses],
                    staged[-1] + (f"/{sub}" if sub else ""),
                )
        for dv_dir in sorted(dv_dirs):
            src_uri = _dv_uri(src_root, dv_dir)
            sch = (
                src_uri.split("://", 1)[0] + "://"
                if "://" in src_uri
                else ""
            )
            dv_local = (
                os.path.basename(dv_dir.rstrip("/"))
                if _is_abs_dir(dv_dir)
                else dv_dir
            )
            staged.append(f"{dst_root}/{DV_DIR}/{dv_local}")
            sfs, srel = _arrow_fs(src_uri)
            dv_files = [
                info.path
                for info in sfs.get_file_info(pafs.FileSelector(srel))
                if info.path.endswith(".parquet")
            ]
            _adopt_files([f"{sch}{p}" for p in dv_files], staged[-1])
    extra: dict = {
        "cloned_from": {
            "root": src_root, "version": v_src, "shallow": shallow
        }
    }
    if seg.get("column_mapping"):
        extra["column_mapping"] = dict(seg["column_mapping"])
    if seg.get("dropped_physical"):
        extra["dropped_physical"] = list(seg["dropped_physical"])
    if seg.get("constraints"):
        extra["constraints"] = dict(seg["constraints"])
    if seg.get("bloom"):
        # the INDEX CONFIG carries (the clone's own commits build
        # sidecars); the source's sidecar bitmaps do NOT — cloned
        # files read as unindexed (kept conservatively) until an
        # optimize rewrite re-indexes them
        extra["bloom"] = dict(seg["bloom"])
    # version PINNED to 0 (the fresh-root check above): an interposed
    # creation at dst COLLIDES instead of this clone silently landing
    # on top of it. The mirrored dirs are links only — source content
    # is untouched; a shallow clone staged nothing
    v = _commit(
        spark, dst_root, None, "clone", seg.get("stats_cols", []),
        add_entries=new_entries, extra=extra,
        schema_json_override=seg.get("schema"),
        prev={"version": -1}, cdf="none", staged=tuple(staged),
    )
    return v, len(new_entries), _nrows(new_entries)


def describe_detail(
    spark: SparkSession, root: str, version: int | None = None
) -> dict:
    """Snapshot detail (Delta's ``DESCRIBE DETAIL``): version, op,
    file/row counts, DV debt, total LIVE bytes and the schema — the
    totals come from the manifest, the byte sum from ONE distributed
    aggregation over the file index (the driver never materializes a
    file list; at 10^6 files this is an index-parquet scan, not 10^6
    fs calls). ``size_files_unknown`` counts pre-upgrade entries whose
    manifest predates size recording — ``size_bytes`` is exact when it
    is 0, a lower bound otherwise. ``last_checkpoint_version`` /
    ``checkpoint_lag`` surface checkpoint health: a lag persistently
    above CHECKPOINT_EVERY means checkpoint writes are failing (see
    :func:`_maybe_checkpoint`) and reads fold a growing segment
    suffix."""
    cur = _head(spark, root)
    v = cur if version is None else version
    res = _resolve(spark, root, v)
    seg = res["seg"]
    # checkpoint health: how stale is the newest COMPLETE checkpoint
    # at-or-below this snapshot? A lag persistently exceeding
    # CHECKPOINT_EVERY means checkpoint writes are failing (see
    # _maybe_checkpoint's warning). Newest-first, stop at the first
    # complete one — O(failed checkpoints) existence probes, not
    # O(all). None = no checkpoint yet (young table).
    _, ckpts = _list_log(spark, root)
    last_ckpt = next(
        (
            c
            for c in sorted(ckpts, reverse=True)
            if c <= v and _ckpt_complete(spark, root, c)
        ),
        None,
    )
    ckpt_lag = (v - last_ckpt) if last_ckpt is not None else v + 1
    if res["ckpt"] is None:
        # driver regime (below a checkpoint): the resolve already
        # holds every entry — never route a handful of in-memory
        # entries through a Spark job (the hybrid-routing rule)
        sizes = [e.get("bytes") for e in res["adds"]]
        total_b = sum(sz for sz in sizes if sz is not None)
        unknown = sum(1 for sz in sizes if sz is None)
        foreign = sum(1 for e in res["adds"] if _is_abs_dir(e["dir"]))
    else:
        agg = _index_df(spark, root, res).agg(
            F.sum("bytes").alias("b"),
            F.count(F.when(F.col("bytes").isNull(), 1)).alias("unk"),
            # shallow-clone debt: files living under a FOREIGN root
            # (absolute dir) — vacuum here can't reclaim them and a
            # source-side vacuum can break them; optimize localizes
            F.count(
                F.when(
                    F.col("dir").startswith("/")
                    | F.col("dir").contains("://"),
                    1,
                )
            ).alias("fr"),
        ).collect()[0]
        total_b, unknown = int(agg["b"] or 0), int(agg["unk"])
        foreign = int(agg["fr"])
    return {
        "version": v,
        "op": seg["op"],
        "n_files": seg["total_files"],
        "n_rows": seg["total_rows"],
        "dv_files": seg.get("total_dv_files", 0),
        "dv_rows": seg.get("total_dv_rows", 0),
        "size_bytes": int(total_b),
        "size_files_unknown": int(unknown),
        "foreign_files": int(foreign),
        "constraints": dict(seg.get("constraints", {})),
        "stats_cols": seg.get("stats_cols", []),
        "bloom": dict(seg.get("bloom") or {}),
        "schema": _manifest_schema(seg),
        "column_mapping": _col_mapping(seg),
        "ts": seg.get("ts"),
        "last_checkpoint_version": last_ckpt,
        "checkpoint_lag": ckpt_lag,
    }


def _own(m: dict, v: int, e: dict) -> bool:
    """Did THIS commit physically stage this add entry? Exact match on
    the recorded staging dir when present (rebase-proof, r13);
    otherwise the version-prefix heuristic for pre-r13 logs — except
    clone/restore, whose adds are by-reference/mirrored EVEN when the
    dir names happen to carry a matching version stamp (a clone of a
    source whose data landed at its own v0 must not read as ingest)."""
    own = m.get("staging_dir")
    if own is not None:
        return e["dir"] == own
    if m.get("op") in ("clone", "restore"):
        return False
    return e["dir"].startswith(f"commit-v{v}-")


def history(spark: SparkSession, root: str) -> list[dict]:
    """Commit log: version, op, file and row counts per snapshot —
    O(versions) segment reads (counts are running totals in each
    segment, no file list is ever materialized). Versions whose
    segment was vacuumed away are omitted.

    ``dv_files``/``dv_rows`` are the snapshot's DELETION-VECTOR DEBT:
    how many live files read through a DV anti-join and how many dead
    rows they drag along — THE signal for when merge-on-read debt
    warrants a REORG purge (``optimize(small_file_mb=...)`` rewrites
    DV'd files, or gate it on debt with ``purge_dv_over``). Running
    totals like n_files/n_rows; pre-upgrade log segments (no totals
    recorded) report 0 until the next DV commit re-counts its
    entries."""
    out = []
    for v in range(current_version(spark, root) + 1):
        try:
            m = _read_manifest(spark, root, v)
        except (FileNotFoundError, OSError):
            continue
        out.append(
            {
                "version": v,
                "op": m["op"],
                "n_files": m["total_files"],
                "n_rows": m["total_rows"],
                "dv_files": m.get("total_dv_files", 0),
                "dv_rows": m.get("total_dv_rows", 0),
                # per-commit operation metrics (Delta's
                # operationMetrics shape), already in the segment:
                # files_added counts NEW PHYSICAL files only (their
                # dir is this commit's own staging dir) — DV/restore
                # re-ADD existing files by reference and must not
                # read as ingest volume; those report as
                # files_relinked. A remove_all rewrite's removes are
                # implicit (the segment lists none): report the
                # previous snapshot's file count.
                "files_added": sum(
                    1 for e in m.get("add", []) if _own(m, v, e)
                ),
                "files_relinked": sum(
                    1 for e in m.get("add", []) if not _own(m, v, e)
                ),
                "files_removed": (
                    len(m.get("remove", []))
                    if not m.get("remove_all")
                    # implicit full replacement: the previous
                    # snapshot's count, or None when that segment was
                    # vacuumed away (unknown is honest, 0 is wrong)
                    else (
                        out[-1]["n_files"]
                        if out and out[-1]["version"] == v - 1
                        else None
                    )
                ),
                "rows_added": sum(
                    e["rows"] for e in m.get("add", []) if _own(m, v, e)
                ),
                # wall-clock commit time (epoch s); None on pre-ts logs
                "ts": m.get("ts"),
                # contention telemetry: present only on commits that
                # lost the CAS and re-based (the version they first
                # pinned + how many winners they re-based over). Both
                # keys are written together; gate on both so a
                # half-present manifest surfaces as no-telemetry
                # instead of a fabricated count
                **(
                    {
                        "rebased_from": m["rebased_from"],
                        "rebases": m["rebases"],
                    }
                    if "rebased_from" in m and "rebases" in m
                    else {}
                ),
            }
        )
    return out
