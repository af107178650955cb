"""Scan-side receivers.

Reference mapping (SURVEY.md §2.1):
- filelog receiver (receiver/filelogreceiver/filelog.go:38-58 +
  pkg/stanza/fileconsumer/file.go:107) → ``read_lines``: a distributed
  text scan; the poll-loop/fingerprint/offset machinery collapses to the
  storage engine's snapshot/file listing. Incremental tailing is the
  streaming module's readStream.
- otlpjsonfile receiver (receiver/otlpjsonfilereceiver) →
  ``read_otlp_json``: fixed-schema JSON scan (no inference at scale).
- transcripts "receiver": the Iceberg/parquet table scan that feeds the
  flagship pipeline. In this sandbox Iceberg jars aren't available, so the
  table format is parquet with identical reader semantics; the format
  string is a parameter so an Iceberg catalog slot in cluster deployments
  is a config change, not a code change.

Building the pipeline's plans runs no Spark job. ``read_parquet``
(transcripts, dims, runner checkpoints, a config's ``parquet`` receiver
and ``enrich`` dim) takes its schema from one
footer on the driver instead of the one-task inference job that a bare
``spark.read.parquet`` submits, and ``local_frame`` hands small
constant tables to the JVM as Arrow, so they plan as a
``LocalTableScan`` rather than a parallelized Python RDD whose scan
forks Python workers.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_table(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    return spark.read.format(fmt).load(path)


def _first_data_file(path: str) -> str | None:
    """``path`` itself when it is a file, else the first non-hidden file
    under it in sorted order (hidden names start with '.' or '_', as
    ``plans/runner.footer_lineage`` filters them)."""
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        for name in sorted(files):
            if not name.startswith((".", "_")):
                return os.path.join(root, name)
    return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job.

    Inference (no mergeSchema) converts ONE data file's footer with
    ``ParquetFileFormat.readSchemaFromFooter``, but reads that footer in
    a one-task Spark job. This reads the same footer on the driver and
    converts it with the same function and a converter built from the
    session conf, so INT96, timestamp_ntz and Spark's own row metadata
    resolve exactly as inference resolves them. A path with no local data
    file goes to ``spark.read.parquet``, which fails (or, for a remote
    URI, infers) the way it always has."""
    data_file = _first_data_file(path)
    if data_file is None:
        return spark.read.parquet(path)
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    file = jvm.org.apache.hadoop.fs.Path(os.path.abspath(data_file))
    meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        state.newHadoopConf(), file,
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(file, meta),
        pq.ParquetToSparkSchemaConverter(state.conf()),
    )
    return spark.read.schema(
        T.StructType.fromJson(json.loads(schema.json()))
    ).parquet(path)


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str
) -> DataFrame:
    """A small constant table (``rows`` in ``schema`` DDL column order)
    as a JVM ``LocalRelation``: the rows cross to the JVM once as Arrow
    and plan as a ``LocalTableScan``, so no action on it forks Python
    workers, which ``createDataFrame(list)`` does for its Python RDD."""
    struct = T._parse_datatype_string(schema)
    cols = list(zip(*rows)) if rows else [()] * len(struct.fields)
    return spark.createDataFrame(
        pa.table({n: pa.array(c) for n, c in zip(struct.names, cols)}), struct
    )


def read_transcripts(spark: SparkSession, fixture_dir: str) -> DataFrame:
    return read_parquet(spark, os.path.join(fixture_dir, "transcripts.parquet"))


def read_dims(spark: SparkSession, fixture_dir: str) -> tuple[DataFrame, DataFrame]:
    roles = read_parquet(spark, os.path.join(fixture_dir, "dim_roles.parquet"))
    tools = read_parquet(spark, os.path.join(fixture_dir, "dim_tools.parquet"))
    return roles, tools


def _apply_exclude(
    paths: str | list[str], exclude: list[str]
) -> list[str]:
    """fileconsumer `exclude` (matcher globs subtracted from `include`,
    fileconsumer/matcher): expand the include globs and drop excluded
    files. Listing is O(matched files) driver-side metadata — the same
    unit the reference's finder walks every poll; the data scan stays
    fully distributed over the surviving file list."""
    import fnmatch
    import glob as _glob

    pats = paths if isinstance(paths, list) else [paths]
    files: list[str] = []
    for p in pats:
        hits = sorted(_glob.glob(p, recursive=True))
        files.extend(hits if hits else [p])
    kept = [
        f for f in files
        if not any(fnmatch.fnmatch(f, ex) for ex in exclude)
    ]
    if not kept:
        # the reference's tailing consumer idles on an empty match; a
        # BATCH scan of zero files is a misconfig — fail loud
        raise ValueError(
            f"exclude={exclude!r} leaves no files from include={pats!r}"
        )
    return kept


def read_lines(
    spark: SparkSession,
    paths: str | list[str],
    encoding: str = "utf-8",
    exclude: list[str] | None = None,
) -> DataFrame:
    """filelog: each line one record + observed timestamp + source file
    (the `log.file.name` resource attribute analog).

    ``exclude`` mirrors fileconsumer's exclude globs (subtracted from
    the include set before the scan). Compressed inputs (.gz/.bz2/…)
    decode transparently through the Hadoop codec — the
    `compression: gzip` fileconsumer option; note gzip is a
    non-splittable codec, so each .gz file is one task (the same
    sequential-per-file unit the reference reads) — recompress to a
    splittable container (or decompress at the landing zone) for
    multi-GiB archives.

    ``encoding`` mirrors fileconsumer's configurable charset decode
    (pkg/stanza/fileconsumer/config.go:74-90 + pkg/stanza/decode): UTF-8
    and ASCII take the splittable JVM text scan; any other Python codec
    (latin-1, cp1252, utf-16, shift_jis, …) takes a binaryFile scan +
    one Arrow-batched decode/split pass — per-file granularity, the same
    unit the reference's sequential reader consumes. At 100 TB,
    non-UTF-8 sources are the rare legacy tail; keep hot pipelines on
    UTF-8 for scan splittability."""
    import codecs

    if exclude:
        paths = _apply_exclude(paths, exclude)
    norm = codecs.lookup(encoding).name
    if norm in ("utf-8", "ascii"):
        df = spark.read.text(paths)
        return (
            df.withColumn("observed_ts", F.current_timestamp())
            .withColumn("source_file", F.input_file_name())
            .withColumnRenamed("value", "body")
        )
    return (
        _read_lines_decoded(spark, paths, norm)
        .withColumn("observed_ts", F.current_timestamp())
        .drop("line_nr")
    )


def _read_lines_decoded(
    spark: SparkSession, paths: str | list[str], encoding: str
) -> DataFrame:
    """Charset-decoding line scan: binaryFile source → decode + split in
    one mapInPandas pass, emitting (body, source_file, line_nr). Carries
    the per-file line number so multiline recombination downstream has a
    deterministic order (the text fast path has no line index).

    Bounds (inherent to whole-file decode, same unit the reference's
    sequential reader holds): each file is materialized per task —
    binaryFile caps files at 2 GiB and multi-GiB files pressure worker
    memory. Split oversized legacy logs upstream, or transcode to UTF-8
    (the splittable fast path) before ingest."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(paths)

    def gen(batches):
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                text = bytes(content).decode(encoding, errors="replace")
                # \n / \r\n framing ONLY — str.splitlines() would also
                # break on NEL/U+2028/VT/FF, splitting records that the
                # JVM text scan and the reference's newline framing keep
                # whole (e.g. cp1252 0x85 decoded mid-line)
                if text.endswith("\n"):
                    text = text[:-1]
                for i, ln in enumerate(text.split("\n")):
                    rows.append((ln.rstrip("\r"), path, i))
            yield pd.DataFrame(
                rows, columns=["body", "source_file", "line_nr"]
            )

    return files.select("path", "content").mapInPandas(
        gen, "body string, source_file string, line_nr long"
    )


def read_lines_multiline(
    spark: SparkSession,
    paths: str | list[str],
    line_start_pattern: str | None = None,
    line_end_pattern: str | None = None,
    encoding: str = "utf-8",
    combine_with: str = "\n",
) -> DataFrame:
    """filelog with multiline framing: the reader-level convenience the
    filelog YAML exposes (fileconsumer/config.go multiline block), so a
    user porting `multiline: {line_start_pattern: ...}` does not need to
    know to add an explicit recombine stage. Composes the decoded line
    scan (per-file line order) with the recombine operator — exactly one
    of the two patterns, matching split.Config validation."""
    from ..operators.recombine import recombine

    if (line_start_pattern is None) == (line_end_pattern is None):
        raise ValueError(
            "read_lines_multiline: exactly one of line_start_pattern / "
            "line_end_pattern required"
        )
    df = _read_lines_decoded(spark, paths, encoding)
    kwargs = {}
    if line_start_pattern is not None:
        kwargs["is_first_entry"] = F.col("body").rlike(line_start_pattern)
    else:
        kwargs["is_last_entry"] = F.col("body").rlike(line_end_pattern)
    out = recombine(
        df,
        source_id="source_file",
        order_by="line_nr",
        combine_field="body",
        combine_with=combine_with,
        **kwargs,
    )
    return out.withColumn("observed_ts", F.current_timestamp())


def read_lines_with_header(
    spark: SparkSession,
    paths: str | list[str],
    header_pattern: str,
    apply_metadata_ops,
    encoding: str = "utf-8",
    exclude: list[str] | None = None,
    multiline: dict | None = None,
) -> DataFrame:
    """filelog `header` block (fileconsumer/internal/header/reader.go:47-73,
    fileconsumer/config.go:86,144): the leading run of lines in each file
    that match ``header_pattern`` is CONSUMED (never emitted as entries);
    each header line runs through the `metadata_operators` sub-pipeline
    and the attributes it produces upsert into a per-file attribute set
    (later header lines overwrite earlier — reader.go:67-70) that is then
    attached to every entry read from that file.

    Spark shape: the decoded per-file line scan (line_nr gives the
    prefix order the sequential reference reader gets for free) → the
    first NON-matching line_nr per file ends the header → the header
    rows (O(files × header_lines), tiny) run the operator chain and
    collapse to one attribute row per file via last-non-null upsert →
    broadcast join back onto the body rows. The corpus-side scan stays
    fully distributed; the only driver-size object is the per-file
    attribute table — the same O(files) metadata unit the reference
    holds in memory.

    ``apply_metadata_ops``: DataFrame -> DataFrame over the header-line
    rows (column additions = attributes). Passed as a callable so this
    scan layer stays independent of the YAML compiler that builds
    operator chains (config._apply_stanza_operators wires it).

    A file where EVERY line matches the pattern emits no entries (the
    reference consumes header lines indefinitely); a file whose first
    line does not match has no header and no attached attributes.

    ``multiline``: optional {line_start_pattern | line_end_pattern}
    block. The reference reader splits the header with plain newlines
    and only switches to the body split function after the header ends
    (fileconsumer/internal/reader switches SplitFunc post-header) — so
    header detection here always runs line-wise, and the multiline
    recombine applies to the body rows only, after the header is cut."""
    import codecs

    if exclude:
        paths = _apply_exclude(paths, exclude)
    norm = codecs.lookup(encoding).name
    # three consumers follow (header-end aggregate, header-attribute
    # aggregate, body pass) — persist the decoded scan so the whole-file
    # Python decode runs ONCE per file like the reference's sequential
    # reader, instead of once per consumer. Spills to disk when the
    # corpus outgrows executor memory.
    from pyspark import StorageLevel

    lines = _read_lines_decoded(spark, paths, norm).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    hdr_end = (
        lines.filter(~F.col("body").rlike(header_pattern))
        .groupBy("source_file")
        .agg(F.min("line_nr").alias("hdr_end"))
    )
    # hdr_end is O(files): broadcast. Files absent from hdr_end had
    # every line match (header never ends) → treat end as +inf.
    tagged = lines.join(F.broadcast(hdr_end), "source_file", "left")
    is_header = F.col("line_nr") < F.coalesce(
        F.col("hdr_end"), F.lit(2**62)
    )

    header_lines = tagged.filter(is_header).drop("hdr_end")
    base_cols = set(header_lines.columns)
    parsed = apply_metadata_ops(header_lines)
    attr_cols = [c for c in parsed.columns if c not in base_cols]
    if not attr_cols:
        raise ValueError(
            "header.metadata_operators produced no attribute columns"
        )
    # per-file upsert: LAST non-null value in line order wins, a line
    # that did not yield the attribute does not erase it (reader.go
    # upserts per line; missing keys are left alone)
    file_attrs = parsed.groupBy("source_file").agg(
        *[
            F.expr(
                f"max_by(`{c}`, if(`{c}` is not null, line_nr, null))"
            ).alias(c)
            for c in attr_cols
        ]
    )

    body = tagged.filter(~is_header).drop("hdr_end")
    if multiline:
        from ..operators.recombine import recombine

        start = multiline.get("line_start_pattern")
        end = multiline.get("line_end_pattern")
        if (start is None) == (end is None):
            raise ValueError(
                "multiline: exactly one of line_start_pattern / "
                "line_end_pattern required"
            )
        kwargs = (
            {"is_first_entry": F.col("body").rlike(start)}
            if start is not None
            else {"is_last_entry": F.col("body").rlike(end)}
        )
        body = recombine(
            body.select("source_file", "line_nr", "body"),
            source_id="source_file",
            order_by="line_nr",
            combine_field="body",
            combine_with="\n",
            **kwargs,
        )
    else:
        body = body.drop("line_nr")
    return body.join(F.broadcast(file_attrs), "source_file", "left").withColumn(
        "observed_ts", F.current_timestamp()
    )


# minimal OTLP-JSON log line schema (resourceLogs envelope flattened later)
OTLP_LOG_SCHEMA = T.StructType(
    [
        T.StructField("timeUnixNano", T.StringType()),
        T.StructField("observedTimeUnixNano", T.StringType()),
        T.StructField("severityNumber", T.IntegerType()),
        T.StructField("severityText", T.StringType()),
        T.StructField("body", T.StructType([T.StructField("stringValue", T.StringType())])),
        T.StructField(
            "attributes",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField(
                            "value",
                            T.StructType(
                                [T.StructField("stringValue", T.StringType())]
                            ),
                        ),
                    ]
                )
            ),
        ),
        T.StructField("traceId", T.StringType()),
        T.StructField("spanId", T.StringType()),
    ]
)


def read_otlp_json(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """otlpjsonfile receiver: one OTLP-JSON LogRecord per line → canonical
    flat columns. attributes kv-array → MAP."""
    from ..pdata import _ns_to_us

    df = spark.read.schema(OTLP_LOG_SCHEMA).json(paths)
    return df.select(
        F.timestamp_micros(_ns_to_us(F.col("timeUnixNano"))).alias("ts"),
        F.col("severityNumber").alias("severity_number"),
        F.col("severityText").alias("severity_text"),
        F.col("body.stringValue").alias("body"),
        F.map_from_arrays(
            F.transform(F.col("attributes"), lambda a: a["key"]),
            F.transform(F.col("attributes"), lambda a: a["value"]["stringValue"]),
        ).alias("attributes"),
        F.col("traceId").alias("trace_id"),
        F.col("spanId").alias("span_id"),
    )
