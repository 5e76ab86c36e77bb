"""Output sinks, re-expressed as table projections (SURVEY.md §2.1).

The reference's side-effecting sinks become *columns* on the artifacts
table, so every sink is a pure projection + write:

- S4 local-file sink (storage.go:205-266): filename derivation is the
  ``filename_html`` / ``filename_md`` columns; the 10 MB save cap is the
  byte-truncation here.
- S5 R2 object sink (storage.go:122-147): key ``{uuid}+{sanitized}.{ext}``
  as a column; the uuid is determinized as a function of (run_id, url)
  (the reference's random uuid is not replayable).
- S6/S7 Kafka producer (storage/kafka.go:176-276, pathik/__init__.py:
  135-177): one message row per (url, content_type) with
  key=url bytes, value=content bytes, headers array — exactly the shape
  ``writeStream.format("kafka")`` takes; in-sandbox the same DataFrame is
  written as a kafka-shaped table. Content-type fan-out follows
  kafka.go:240-273: 'html' -> text/html, 'markdown' -> text/markdown,
  'both' -> two rows per url.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pathik_spark.functions import urls as U
from pathik_spark.kernels.extract import SAVE_CAP

CONTENT_TYPES = ("html", "markdown", "both")
COMPRESSIONS = ("gzip", "snappy", "lz4", "zstd")  # schema.py:210-214


def local_file_rows(artifacts: DataFrame, save_cap: int = SAVE_CAP) -> DataFrame:
    """One row per (url, file) mirroring SaveToLocalFile: content
    truncated at save_cap BYTES (storage.go:211-216)."""
    html_rows = artifacts.filter(F.col("status") == "fetched").select(
        F.col("url"),
        F.col("filename_html").alias("filename"),
        F.substring(F.col("html"), 1, save_cap).alias("content"),
        F.lit("html").alias("file_type"),
    )
    md_rows = artifacts.filter(F.col("status") == "fetched").select(
        F.col("url"),
        F.col("filename_md").alias("filename"),
        F.substring(F.encode(F.col("markdown"), "utf-8"), 1, save_cap).alias("content"),
        F.lit("md").alias("file_type"),
    )
    return html_rows.unionByName(md_rows)


def deterministic_uuid(run_id: str) -> F.Column:
    """Replayable stand-in for the reference's random uuid: hex of
    xxhash64(run_id, url)."""
    return F.lower(F.hex(F.xxhash64(F.lit(run_id), F.col("url"))))


def r2_object_rows(artifacts: DataFrame, run_id: str) -> DataFrame:
    """S5: (key, content, mime) rows; key per storage.go:129-131."""
    fetched = artifacts.filter(F.col("status") == "fetched")
    uuid_col = deterministic_uuid(run_id)
    html_rows = fetched.select(
        U.r2_key_expr(uuid_col, F.col("url"), "html").alias("key"),
        F.col("html").alias("content"),
        F.lit("text/html").alias("mime"),
    )
    md_rows = fetched.select(
        U.r2_key_expr(uuid_col, F.col("url"), "md").alias("key"),
        F.encode(F.col("markdown"), "utf-8").alias("content"),
        F.lit("text/markdown").alias("mime"),
    )
    return html_rows.unionByName(md_rows)


def r2_hadoop_conf(
    account_id: str,
    access_key_id: str,
    access_key_secret: str,
    region: str | None = None,
) -> dict[str, str]:
    """Hadoop-S3A configuration for Cloudflare R2, mirroring the
    reference's client config (storage.go:23-67: env surface
    R2_ACCOUNT_ID / R2_ACCESS_KEY_ID / R2_ACCESS_KEY_SECRET /
    R2_BUCKET_NAME, endpoint https://{account}.r2.cloudflarestorage.com).
    Path-style access — R2 buckets are not virtual-hosted. Missing
    required fields fail loudly exactly like the Go validation
    (storage.go:41-44)."""
    missing = [
        name
        for name, v in (
            ("R2_ACCOUNT_ID", account_id),
            ("R2_ACCESS_KEY_ID", access_key_id),
            ("R2_ACCESS_KEY_SECRET", access_key_secret),
        )
        if not v
    ]
    if missing:
        raise ValueError(f"incomplete R2 config, missing: {', '.join(missing)}")
    conf = {
        "fs.s3a.endpoint": f"https://{account_id}.r2.cloudflarestorage.com",
        "fs.s3a.access.key": access_key_id,
        "fs.s3a.secret.key": access_key_secret,
        "fs.s3a.path.style.access": "true",
        "fs.s3a.connection.ssl.enabled": "true",
        # object stores have no atomic rename: commit by writing files
        # directly (magic committer discipline), never rename-in-place
        "fs.s3a.committer.name": "magic",
    }
    if region:
        conf["fs.s3a.endpoint.region"] = region
    return conf


def write_r2_objects(
    objects: DataFrame, dest: str, hadoop_conf: dict[str, str] | None = None
) -> None:
    """Batch write of ``r2_object_rows`` at an object-store path
    (``s3a://bucket/prefix`` with ``r2_hadoop_conf``; ``file:/...`` in
    tests). The reference PUTs one object per file
    (storage.go:122-147) — at 10^10 objects per-key PUTs are the
    bottleneck, so the engine writes the same (key, content, mime) rows
    as large splittable parquet addressable by key; a thin unloader can
    fan out per-key objects where true key-per-object layout is needed.
    In-sandbox there is no s3a jar/credentials, so s3a dests raise —
    callers fall back to a local path."""
    spark = objects.sparkSession
    if hadoop_conf:
        jconf = spark.sparkContext._jsc.hadoopConfiguration()
        for k, v in hadoop_conf.items():
            jconf.set(k, v)
    objects.write.mode("append").parquet(dest)


def _headers(url_col, ts_col, session_id: str | None, content_type: str):
    """kafka.go:226-273 header construction: url, timestamp (RFC3339 from
    warc_ts, never wall clock — X9), optional sessionID, contentType."""
    pairs = [
        F.struct(F.lit("url").alias("key"), F.encode(url_col, "utf-8").alias("value")),
        F.struct(
            F.lit("timestamp").alias("key"),
            F.encode(F.date_format(ts_col, "yyyy-MM-dd'T'HH:mm:ssXXX"), "utf-8").alias("value"),
        ),
    ]
    if session_id:
        pairs.append(
            F.struct(F.lit("sessionID").alias("key"), F.encode(F.lit(session_id), "utf-8").alias("value"))
        )
    pairs.append(
        F.struct(F.lit("contentType").alias("key"), F.encode(F.lit(content_type), "utf-8").alias("value"))
    )
    return F.array(*pairs)


def kafka_message_rows(
    artifacts: DataFrame,
    content_type: str = "both",
    session_id: str | None = None,
) -> DataFrame:
    """S6: kafka-sink-shaped rows (key, value, headers, topic-ready).
    Feed to ``.write.format("kafka")`` on a real cluster, or write as a
    table in-sandbox (identical shape)."""
    if content_type not in CONTENT_TYPES:
        raise ValueError(f"content_type must be html|markdown|both, got {content_type!r}")
    fetched = artifacts.filter(F.col("status") == "fetched")
    out = []
    if content_type in ("html", "both"):
        out.append(
            fetched.select(
                F.encode(F.col("url"), "utf-8").alias("key"),
                F.col("html").alias("value"),
                _headers(F.col("url"), F.col("warc_ts"), session_id, "text/html").alias("headers"),
            )
        )
    if content_type in ("markdown", "both"):
        out.append(
            fetched.select(
                F.encode(F.col("url"), "utf-8").alias("key"),
                F.encode(F.col("markdown"), "utf-8").alias("value"),
                _headers(F.col("url"), F.col("warc_ts"), session_id, "text/markdown").alias("headers"),
            )
        )
    df = out[0]
    for extra in out[1:]:
        df = df.unionByName(extra)
    return df


def kafka_writer_options(
    brokers: str,
    topic: str,
    username: str | None = None,
    password: str | None = None,
    use_tls: bool = False,
    client_id: str | None = None,
    compression_type: str | None = None,
    max_message_size: int | None = None,
    buffer_memory: int | None = None,
) -> dict[str, str]:
    """Spark Kafka-sink option map mirroring the reference's producer
    config surface (pathik/__init__.py:40-208 compression/max-size/
    buffer; kafka_consumer_direct.py:86-120 SASL user/pass + TLS).
    SASL PLAIN over TLS when credentials are given — the same auth
    matrix the reference's clients speak."""
    opts = {"kafka.bootstrap.servers": brokers, "topic": topic}
    if username is not None:
        mech = "SASL_SSL" if use_tls else "SASL_PLAINTEXT"
        jaas = (
            "org.apache.kafka.common.security.plain.PlainLoginModule required "
            f'username="{username}" password="{password or ""}";'
        )
        opts["kafka.security.protocol"] = mech
        opts["kafka.sasl.mechanism"] = "PLAIN"
        opts["kafka.sasl.jaas.config"] = jaas
    elif use_tls:
        opts["kafka.security.protocol"] = "SSL"
    if client_id:
        opts["kafka.client.id"] = client_id
    if compression_type is not None:
        if compression_type not in COMPRESSIONS:
            raise ValueError(
                f"compression_type must be one of {COMPRESSIONS}, got {compression_type}"
            )
        opts["kafka.compression.type"] = compression_type
    if max_message_size is not None:
        opts["kafka.max.request.size"] = str(max_message_size)
    if buffer_memory is not None:
        opts["kafka.buffer.memory"] = str(buffer_memory)
    return opts


def write_kafka_batch(messages: DataFrame, options: dict[str, str]) -> None:
    """Batch twin of streaming/kafka_shaped's writeStream: push
    kafka_message_rows at a real broker via ``write.format("kafka")``.
    In-sandbox (no broker, no kafka connector jar) this raises — callers
    fall back to writing the same rows as a kafka-shaped table."""
    (
        messages.select("key", "value", "headers")
        .write.format("kafka")
        .options(**options)
        .save()
    )


def filter_kafka_rows(
    messages: DataFrame,
    content_type_substr: str | None = None,
    session_id: str | None = None,
) -> DataFrame:
    """S8 consumer-side filters (examples/kafka_consumer.py:186-191):
    contentType substring match + exact sessionID match on headers."""
    df = messages

    def header_value(name: str):
        return F.decode(
            F.element_at(
                F.map_from_entries(F.col("headers")), F.lit(name)
            ),
            "utf-8",
        )

    if content_type_substr is not None:
        df = df.filter(header_value("contentType").contains(content_type_substr))
    if session_id is not None:
        df = df.filter(header_value("sessionID") == session_id)
    return df


# ---------------------------------------------------------------------------
# WARC sink — the Common-Crawl-native archive format for fetched pages
# ---------------------------------------------------------------------------

def _warc_uuid(url_col) -> F.Column:
    """Deterministic urn:uuid per url: md5(url) hex grouped 8-4-4-4-12 —
    replayable (X9 discipline: never wall clock, no RNG state)."""
    h = F.md5(url_col)
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


def warc_record_rows(artifacts: DataFrame) -> DataFrame:
    """WARC/1.0 ``resource`` records for fetched pages, assembled with
    JVM expressions only (string header + binary payload concat — no
    Python in the record path): (url, warc_date, record_id,
    record binary, record_len).

    Header fields follow ISO 28500: WARC-Target-URI, WARC-Date (UTC
    RFC3339 derived from warc_ts, never wall clock), a deterministic
    WARC-Record-ID, Content-Type and the payload byte Content-Length.
    Records end with the mandatory CRLF CRLF block delimiter."""
    fetched = artifacts.filter(F.col("status") == "fetched")
    date = F.date_format(F.col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    rid = F.concat(F.lit("urn:uuid:"), _warc_uuid(F.col("url")))
    record = _assemble_warc_record(
        F.col("url"), date, rid, "resource", "text/html", F.col("html")
    )
    return fetched.select(
        "url",
        date.alias("warc_date"),
        rid.alias("record_id"),
        record.alias("record"),
        F.length(record).alias("record_len"),
    )


def warc_revisit_rows(
    unchanged: DataFrame,
    html_col: str = "html",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """WARC/1.0 ``revisit`` records (ISO 28500 identical-payload-digest
    profile) for recrawls whose content did not change (the
    crawl_delta 'unchanged' verdict): instead of re-archiving the
    identical payload, the record cites the ORIGINAL capture — the
    device that keeps web archives sublinear in recrawl count.

    WARC-Refers-To reconstructs the original's deterministic record id
    from the url (warc_record_rows assigns ids as a pure function of
    url, so the back-reference is exact without reading the original
    archive); WARC-Payload-Digest carries sha1 of the (identical)
    payload in hex ('sha1:<hex>' — ISO 28500 allows any labelled
    digest); the record body is EMPTY (Content-Length: 0). Same JVM
    framing as the resource/conversion sinks; the record-agnostic
    write_warc_files writes the archives."""
    date = F.date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    # Record-ID mixes the capture timestamp so two revisit captures of
    # the same unchanged URL in different rounds get DISTINCT ids (ISO
    # 28500 record-id uniqueness); WARC-Refers-To stays a pure function
    # of url so the original's id reconstructs without reading the
    # archive.
    rid = F.concat(
        F.lit("urn:uuid:"),
        _warc_uuid(F.concat(F.col("url"), F.lit("#revisit@"), date)),
    )
    orig_rid = F.concat(F.lit("urn:uuid:"), _warc_uuid(F.col("url")))
    digest = F.concat(F.lit("sha1:"), F.sha1(F.col(html_col)))
    empty = F.encode(F.lit(""), "utf-8")
    record = _assemble_warc_record(
        F.col("url"), date, rid, "revisit", "application/octet-stream", empty,
        extra_headers=[
            (
                "WARC-Profile",
                F.lit("http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"),
            ),
            ("WARC-Refers-To", F.concat(F.lit("<"), orig_rid, F.lit(">"))),
            ("WARC-Payload-Digest", digest),
        ],
    )
    return unchanged.select(
        "url",
        date.alias("warc_date"),
        rid.alias("record_id"),
        record.alias("record"),
        F.length(record).alias("record_len"),
    )


def _assemble_warc_record(
    url_col, date_col, rid_col, warc_type: str, content_type: str,
    payload_col, extra_headers: list | None = None,
):
    """ISO 28500 record framing shared by the WARC (resource) and WET
    (conversion) sinks: header block + CRLFCRLF + payload + CRLFCRLF.
    ``extra_headers``: list of (name, value Column) inserted after
    WARC-Record-ID. One definition so a framing fix cannot drift
    between the two record types."""
    n = F.length(payload_col)
    lines = [
        F.lit("WARC/1.0"),
        F.lit(f"WARC-Type: {warc_type}"),
        F.concat(F.lit("WARC-Target-URI: "), url_col),
        F.concat(F.lit("WARC-Date: "), date_col),
        F.concat(F.lit("WARC-Record-ID: <"), rid_col, F.lit(">")),
    ]
    for name, value in extra_headers or []:
        lines.append(F.concat(F.lit(f"{name}: "), value))
    lines.append(F.lit(f"Content-Type: {content_type}"))
    lines.append(F.concat(F.lit("Content-Length: "), n.cast("string")))
    header = F.concat_ws("\r\n", *lines)
    return F.concat(
        F.encode(F.concat(header, F.lit("\r\n\r\n")), "utf-8"),
        payload_col,
        F.encode(F.lit("\r\n\r\n"), "utf-8"),
    )


def warc_response_rows(
    artifacts: DataFrame,
    status_code: int = 200,
    mime: str = "text/html",
) -> DataFrame:
    """WARC/1.0 ``response`` records — the record type Common Crawl
    itself ships: the payload is a full HTTP response (status line +
    headers + CRLFCRLF + body), Content-Type
    ``application/http; msgtype=response``. Archives written this way
    round-trip through sources/warc_source.read_warc_archives into
    operators/redirects.http_response_meta /
    operators/revalidate.http_cache_meta — the engine can therefore
    both PRODUCE and CONSUME the native CC interchange shape.

    The synthesized HTTP header carries Date (RFC 9110 IMF-fixdate from
    warc_ts — never wall clock), Content-Type, and Content-Length; the
    replay-from-table fetch has no live response to echo, so the
    status/mime are the caller's contract (defaults: the fetched-OK
    arm). Same JVM-expression framing as every other record type."""
    fetched = artifacts.filter(F.col("status") == "fetched")
    date = F.date_format(F.col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    http_date = F.date_format(
        F.col("warc_ts"), "EEE, dd MMM yyyy HH:mm:ss 'GMT'"
    )
    reason = {200: "OK", 301: "Moved Permanently", 404: "Not Found"}.get(
        status_code, "Status"
    )
    body = F.col("html")
    http = F.concat(
        F.encode(
            F.concat_ws(
                "\r\n",
                F.lit(f"HTTP/1.1 {status_code} {reason}"),
                F.concat(F.lit("Date: "), http_date),
                F.lit(f"Content-Type: {mime}"),
                F.concat(
                    F.lit("Content-Length: "),
                    F.length(body).cast("string"),
                ),
            ),
            "utf-8",
        ),
        F.encode(F.lit("\r\n\r\n"), "utf-8"),
        body,
    )
    rid = F.concat(F.lit("urn:uuid:"), _warc_uuid(F.concat(F.col("url"), F.lit("#response"))))
    record = _assemble_warc_record(
        F.col("url"), date, rid, "response",
        "application/http; msgtype=response", http,
    )
    return fetched.select(
        "url",
        date.alias("warc_date"),
        rid.alias("record_id"),
        record.alias("record"),
        F.length(record).alias("record_len"),
    )


def write_warc_files(
    records: DataFrame,
    out_dir: str,
    prefix: str = "pathik",
    index_path: str | None = None,
) -> list:
    """Write records as one ``.warc`` file per partition (the standard
    many-archive layout: each task streams its records sequentially, no
    shuffle, file count = partition count) and index EVERY record as
    (url, path, offset, length) — the CDX-style index Common Crawl
    pairs with its archives, enabling random access (seek offset, read
    length, get exactly one record).

    Files open ``wb`` once per task, so a task retry rewrites its
    archive instead of appending duplicates (idempotent output).

    ``index_path`` set: the full per-record index lands there as
    parquet (the action that drives the write). Returns per-file
    (path, n_records, n_bytes) summary rows either way."""
    import os

    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql import types as T

    os.makedirs(out_dir, exist_ok=True)
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("offset", T.LongType()),
            T.StructField("length", T.LongType()),
        ]
    )

    def writer(batches):
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        path = os.path.join(out_dir, f"{prefix}-{pid:05d}.warc")
        f = None  # lazy: empty partitions create no file
        offset = 0
        try:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                if f is None:
                    f = open(path, "wb")
                rows = []
                for url, blob in zip(pdf["url"], pdf["record"]):
                    b = bytes(blob)
                    f.write(b)
                    rows.append((url, path, offset, len(b)))
                    offset += len(b)
                yield pd.DataFrame(rows, columns=["url", "path", "offset", "length"])
        finally:
            if f is not None:
                f.close()

    idx = records.select("url", "record").mapInPandas(writer, schema)
    spark = records.sparkSession
    if index_path is not None:
        idx.write.mode("overwrite").parquet(index_path)
        idx = spark.read.parquet(index_path)
    summaries = (
        idx.groupBy("path")
        .agg(F.count("*").alias("n_records"), F.sum("length").alias("n_bytes"))
        .collect()
    )
    return summaries


def write_training_jsonl(
    corpus: DataFrame,
    out_dir: str,
    split_col: str = "split",
    compression: str = "gzip",
) -> None:
    """Export a cleaned corpus as trainer-ready JSONL, one directory per
    split (``out_dir/split=train/part-*.json.gz`` ...): the layout data
    loaders shard-read directly. Spark's native JSON writer streams each
    partition to its own compressed file — no shuffle beyond the
    partitionBy bucketing, no driver collect, so the export scales with
    the corpus. Columns become the JSON fields verbatim (keep the
    schema to text + metadata before calling)."""
    writer = corpus.write.mode("overwrite").option("compression", compression)
    if split_col in corpus.columns:
        writer = writer.partitionBy(split_col)
    writer.json(out_dir)


def read_warc_record(path: str, offset: int, length: int) -> tuple[str, bytes]:
    """CDX random access: seek + read exactly one record; returns
    (header_text, payload_bytes). The inverse of write_warc_files'
    index rows — used by tests and any fetch-one-document consumer."""
    with open(path, "rb") as f:
        f.seek(offset)
        data = f.read(length)
    sep = data.index(b"\r\n\r\n")
    headers = data[:sep].decode("utf-8")
    payload = data[sep + 4 : -4]
    return headers, payload


def write_sharded_jsonl(
    corpus: DataFrame,
    out_dir: str,
    target_shard_bytes: int = 256 << 20,
    key_col: str = "doc_id",
    compression: str = "gzip",
) -> DataFrame:
    """Size-targeted shard export (the FineWeb-style layout): the corpus
    lands as ``out_dir/shard=00000/part-*.json[.gz]`` with each shard
    holding ~``target_shard_bytes`` of UNCOMPRESSED JSONL — the unit
    data loaders stream and resume on.

    Shard assignment is a deterministic hash of ``key_col`` into
    n_shards = ceil(total_bytes / target): at real shard sizes
    (hundreds of MB over millions of docs) the law of large numbers
    makes per-shard byte spread a fraction of a percent, without the
    global prefix-sum an exact byte cut would need (which serializes on
    a single ordered pass). The sized rows are persisted
    (MEMORY_AND_DISK) so the sizing agg, the write, and the manifest
    all read ONE materialization of the corpus instead of recomputing
    the upstream lineage three times; the cache is released before
    returning. All rows of a shard land in one task, so every shard
    directory holds exactly ONE part file; re-running the export
    reproduces identical shard membership.

    Returns the shard manifest (shard, n_docs, shard_bytes) — small
    (#shards rows), computed from the same byte column the sizing used.
    """
    import math

    from pathik_spark.operators.dedup import portable_hash64

    cols = [c for c in corpus.columns]
    row_bytes = (
        F.octet_length(F.to_json(F.struct(*[F.col(c) for c in cols]))) + F.lit(1)
    ).cast("long")
    sized = corpus.withColumn("_bytes", row_bytes).persist()
    try:
        total = sized.agg(F.sum("_bytes").alias("t")).collect()[0]["t"] or 0
        n_shards = max(1, math.ceil(total / target_shard_bytes))
        # label width grows with n_shards (lpad TRUNCATES over-long
        # strings — 5 fixed digits would merge shards past 100k)
        width = max(5, len(str(n_shards - 1)))
        shard = F.lpad(
            F.pmod(
                portable_hash64(
                    F.concat(F.lit("shard:"), F.col(key_col).cast("string"))
                ),
                F.lit(n_shards),
            ).cast("string"),
            width,
            "0",
        )
        sharded = sized.withColumn("shard", shard)
        (
            sharded.repartition(n_shards, "shard")
            .drop("_bytes")
            .write.mode("overwrite")
            .option("compression", compression)
            .partitionBy("shard")
            .json(out_dir)
        )
        # materialize the (tiny) manifest off the SAME persisted rows the
        # write consumed, then release the cache
        manifest_rows = (
            sharded.groupBy("shard")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("_bytes").alias("shard_bytes"),
            )
            .collect()
        )
    finally:
        sized.unpersist()
    return corpus.sparkSession.createDataFrame(
        manifest_rows, schema="shard string, n_docs long, shard_bytes long"
    )


def wet_record_rows(artifacts: DataFrame, text_col: str = "text") -> DataFrame:
    """WET ``conversion`` records — Common Crawl's extracted-plain-text
    sidecar to the WARC archives (the file format most LLM-corpus
    pipelines actually ingest). Same JVM-expression-only assembly as
    warc_record_rows: (url, warc_date, record_id, refers_to, record,
    record_len).

    Header semantics per ISO 28500 / Common Crawl practice:
    WARC-Type: conversion, Content-Type: text/plain, and
    WARC-Refers-To pointing at the deterministic record id the SOURCE
    html record gets from warc_record_rows — so a (WARC, WET) pair
    written from the same artifacts cross-references exactly. Feed the
    output to write_warc_files (the writer is record-agnostic) with a
    ``.wet`` prefix for the standard layout."""
    fetched = artifacts.filter(F.col("status") == "fetched")
    payload = F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8")
    date = F.date_format(F.col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    src_rid = F.concat(F.lit("urn:uuid:"), _warc_uuid(F.col("url")))
    rid = F.concat(
        F.lit("urn:uuid:"), _warc_uuid(F.concat(F.lit("wet:"), F.col("url")))
    )
    record = _assemble_warc_record(
        F.col("url"), date, rid, "conversion", "text/plain", payload,
        extra_headers=[
            ("WARC-Refers-To", F.concat(F.lit("<"), src_rid, F.lit(">")))
        ],
    )
    return fetched.select(
        "url",
        date.alias("warc_date"),
        rid.alias("record_id"),
        src_rid.alias("refers_to"),
        record.alias("record"),
        F.length(record).alias("record_len"),
    )
