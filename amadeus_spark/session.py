"""SparkSession factory, tuned for both local testing and cluster scale.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the config
below is chosen so the *same* logical plans would hold on a 1000-executor
cluster reading 100 TB:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is superseded by AQE's coalescing from an intentionally
  high initial number.
- Arrow enabled so the Pandas-UDF slow path is batch-vectorized.
- Broadcast threshold left at default (10 MB) — dimension tables
  (region/nation/supplier/part at any SF where they fit) broadcast;
  fact-fact joins shuffle on their keys.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.shuffle.partitions": None,  # filled from cpus at build time
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # testdata events.parquet uses TIMESTAMP(NANOS); read as long ns
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # PySpark captures the Python call site of every Column/DataFrame
    # function call for error query contexts — several py4j round trips
    # per call (getActiveSession + conf.get + origin set/clear), about a
    # third of a MERGE commit's driver build. Nothing here reads those
    # contexts; analysis errors (AnalysisException) still raise with
    # their message, only without the Python stack excerpt
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    # stage-progress bars interleave with stdout under redirection and
    # can land inside the driver's tail-of-output capture — never useful
    # in a headless run
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "48g",
    # A full bench session compiles a whole-stage-codegen plan pair
    # (warm-dir + bench-dir) per registered query — ~160 at 79 queries;
    # the JVM's default 240 MB reserved code cache overflows and the JIT
    # silently degrades, inflating late heavy queries 2-4× with big
    # run-to-run variance (measured on minhash_lsh: 3 s isolated vs
    # 5-12.6 s late in a full bench at 1 g when the registry grew past
    # ~60 queries — size WITH the query count). Also pin G1 so full-GC
    # pauses don't land inside timed queries.
    "spark.driver.extraJavaOptions": (
        "-XX:ReservedCodeCacheSize=2g -XX:+UseG1GC"
    ),
    # At 100 TB the scan parallelism comes from file splits; keep the
    # default 128 MB split size (maxPartitionBytes) — small local files
    # still give one task per file.
}


def s3_configs(
    region: str | None = None,
    endpoint: str | None = None,
    anonymous: bool = False,
    role_arn: str | None = None,
) -> dict[str, str]:
    """fs.s3a.* confs for reading/writing S3 (and S3-compatible stores) —
    the reference's S3 source posture (amadeus-aws/src/file.rs:18,125,227:
    region + credentials-or-anonymous per source). Pass the result as
    ``get_spark(**s3_configs(...))`` or apply to any builder.

    Choices, and why they matter at 100 TB:
    - **credentials**: default is the standard provider chain (env →
      profile → instance role); ``anonymous=True`` switches to
      AnonymousAWSCredentialsProvider (public buckets like Common Crawl —
      the reference's AwsCredentials::Anonymous); ``role_arn`` assumes a
      role via STS.
    - **magic committer**: S3 has no atomic rename; the classic
      FileOutputCommitter does O(files) copies in job commit. The magic
      committer writes directly to the final location via multipart
      uploads held open until commit — mandatory for big writes.
    - **connection/thread pool sized up**: 1000-executor clusters hammer
      S3; the 15-connection default throttles scans.
    - **directory markers kept**: avoids delete storms on deep prefixes
      (safe on Hadoop 3.3+ everywhere in this stack).

    Requires the hadoop-aws + aws-sdk jars on the cluster classpath
    (`spark.jars.packages=org.apache.hadoop:hadoop-aws:<hadoop version>`);
    in this sandbox the jar is absent, so tests assert the failure path
    (the s3a scheme must at least *route* to the S3A filesystem class).
    """
    conf: dict[str, str] = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.hadoop.fs.s3a.connection.maximum": "200",
        "spark.hadoop.fs.s3a.threads.max": "64",
        "spark.hadoop.fs.s3a.fast.upload": "true",
        "spark.hadoop.fs.s3a.block.size": "128M",
        "spark.hadoop.fs.s3a.directory.marker.retention": "keep",
        # parquet reads are ranged; vectored IO (Hadoop 3.3.5+) merges them
        "spark.hadoop.fs.s3a.vectored.read.min.seek.size": "128K",
    }
    if region:
        conf["spark.hadoop.fs.s3a.endpoint.region"] = region
    if endpoint:  # S3-compatible stores (MinIO etc.)
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
        conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
    if anonymous:
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
        )
    elif role_arn:
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.auth.AssumedRoleCredentialProvider"
        )
        conf["spark.hadoop.fs.s3a.assumed.role.arn"] = role_arn
    return conf


def get_spark(app_name: str = "amadeus_spark", **overrides: str) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    Any ``overrides`` are applied last, so tests can pin configs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULTS)
    ncpu = os.cpu_count() or 8 if cpus == "*" else int(cpus)
    conf["spark.sql.shuffle.partitions"] = str(ncpu)
    conf["spark.default.parallelism"] = str(ncpu)
    conf.update(overrides)
    for k, v in conf.items():
        if v is not None:
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
