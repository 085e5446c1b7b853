"""Typed readers for the reference's CSV datasets and generic line sources.

The reference stores untyped text in HyDFS and re-parses (and re-types) every
tuple inside every operator process (SURVEY.md §1.1). Here typing happens once
at the reader; operators receive real columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Typed schemas for the reference datasets (FIXTURES.md §1-3). Columns the
# queries never touch stay strings.
TRAFFIC_SIGNS_SCHEMA = StructType(
    [
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
        StructField("objectid", IntegerType()),
        StructField("sign_name", StringType()),
        StructField("size", StringType()),
        StructField("blank5", StringType()),
        StructField("sign_post", StringType()),
        StructField("year", StringType()),
        StructField("category", StringType()),
        StructField("blank9", StringType()),
        StructField("mutcd_code", StringType()),
        StructField("city", StringType()),
        StructField("seq", StringType()),
        StructField("unnamed13", StringType()),
        StructField("capture_method", StringType()),
        StructField("zone_letter", StringType()),
        StructField("street", StringType()),
        StructField("seq2", StringType()),
        StructField("unnamed18", StringType()),
        StructField("guid", StringType()),
    ]
)

LICHESS_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("rated", StringType()),
        StructField("created_at", DoubleType()),
        StructField("last_move_at", DoubleType()),
        StructField("turns", IntegerType()),
        StructField("victory_status", StringType()),
        StructField("winner", StringType()),
        StructField("increment_code", StringType()),
        StructField("white_id", StringType()),
        StructField("white_rating", IntegerType()),
        StructField("black_id", StringType()),
        StructField("black_rating", IntegerType()),
        StructField("moves", StringType()),
        StructField("opening_eco", StringType()),
        StructField("opening_name", StringType()),
        StructField("opening_ply", IntegerType()),
    ]
)

PARKING_SCHEMA = StructType(
    [StructField(n, t())
     for n, t in [
         ("x", DoubleType), ("y", DoubleType), ("objectid", IntegerType),
         ("meterloc", StringType), ("hours", IntegerType), ("rate", DoubleType),
         ("days", IntegerType), ("wrm", IntegerType), ("zoneid", StringType),
         ("zonedesc", StringType), ("notes", StringType), ("facilityid", IntegerType),
         ("active", StringType), ("blocknumber", StringType), ("blockstreet", StringType),
         ("enforcement_zone", IntegerType), ("enforcement_time", StringType),
         ("enforcement_days", StringType), ("max_time", StringType), ("no_max", StringType),
         ("no_charge_1", StringType), ("no_parking", StringType), ("no_charge_2", StringType),
     ]]
)


def read_traffic_signs(spark: SparkSession, path: str) -> DataFrame:
    """Traffic_Signs_*.txt: 20-col CSV, no header, RFC-4180 doubled quotes."""
    return spark.read.csv(path, schema=TRAFFIC_SIGNS_SCHEMA, header=False, escape='"')


def read_lichess(spark: SparkSession, path: str) -> DataFrame:
    """Lichess.txt: 16-col CSV with header."""
    return spark.read.csv(path, schema=LICHESS_SCHEMA, header=True, escape='"')


def read_parking(spark: SparkSession, path: str) -> DataFrame:
    """Parking_Meter_Spaces.txt: 23-col CSV with header."""
    return spark.read.csv(path, schema=PARKING_SCHEMA, header=True, escape='"')


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSONL (one JSON doc per line) — the lingua franca of LLM training data.

    With an explicit schema the scan is single-pass; without one Spark runs a
    sampling inference pass first (fine interactively, wasteful at 100 TB —
    always pass the schema in pipelines). PERMISSIVE mode + a corrupt-record
    column: malformed lines land in `corrupt_col` instead of killing the job
    or silently vanishing — route them with split_valid_rows."""
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", corrupt_col
    )
    if schema is not None:
        if isinstance(schema, str):
            from pyspark.sql.types import _parse_datatype_string

            schema = _parse_datatype_string(schema)
        if corrupt_col not in schema.fieldNames():
            schema = schema.add(StructField(corrupt_col, StringType()))
        reader = reader.schema(schema)
    return reader.json(path)


def split_valid_rows(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """Quarantine split: (valid_rows_without_corrupt_col, quarantined_rows).

    Both sides derive from ONE scan subtree (Spark re-reads per action, but
    in a pipeline each side feeds its own sink once). Quarantine keeps the
    raw line (as `raw_line`) so the bad records are re-parseable after a
    schema fix — ingest never drops data silently and never aborts on one
    bad row. The quarantine side also carries the (all-null) typed columns:
    Spark refuses plans that read ONLY the corrupt column from a JSON/CSV
    scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and keeping them avoids the
    cache() the docs suggest — which would be a non-starter at 100 TB."""
    from pyspark.sql import functions as F

    data_cols = [c for c in df.columns if c != corrupt_col]
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line"), *data_cols
    )
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    return good, bad


# ---------------------------------------------------------------------------
# WARC (Web ARChive) — the container format of web-scale corpora (Common
# Crawl et al.). Parsed with Content-Length-driven scanning, NOT delimiter
# splitting: payloads may legally contain "WARC/1.0", so only the declared
# byte count is trustworthy. Parallelism unit = file (exactly how web-corpus
# Spark pipelines shard: thousands of ~1 GB .warc.gz segments), sequential
# within a file — inherent, since per-record gzip members must decompress in
# order. No external WARC library: the format is plain headers+bytes, and the
# container ships none.
# ---------------------------------------------------------------------------

WARC_SCHEMA = (
    "record_id string, warc_type string, target_uri string, warc_date string, "
    "content_type string, content_length long, payload binary, source_file string"
)


def parse_warc_bytes(raw: bytes) -> "list[tuple]":
    """Parse one WARC file's bytes into records (driver/executor-side pure
    function — unit-testable without Spark). Handles uncompressed files and
    gzip (both whole-file and the standard concatenated per-record members,
    which GzipFile reads transparently)."""
    import gzip
    import io as _io

    if raw[:2] == b"\x1f\x8b":
        raw = gzip.GzipFile(fileobj=_io.BytesIO(raw)).read()
    out = []
    pos = 0
    n = len(raw)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and raw[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not raw.startswith(b"WARC/", pos):
            raise ValueError(f"malformed WARC: expected version line at byte {pos}")
        head_end = raw.index(b"\r\n\r\n", pos)
        headers = {}
        for line in raw[pos:head_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode()] = v.strip().decode("utf-8", "replace")
        length = int(headers.get("content-length", "0"))
        body_start = head_end + 4
        payload = raw[body_start : body_start + length]
        out.append(
            (
                headers.get("warc-record-id", ""),
                headers.get("warc-type", ""),
                headers.get("warc-target-uri", ""),
                headers.get("warc-date", ""),
                headers.get("content-type", ""),
                length,
                payload,
            )
        )
        pos = body_start + length
    return out


def read_warc(spark: SparkSession, path: str, on_error: str = "fail") -> DataFrame:
    """WARC/WARC.GZ reader: binaryFile scan (one task per file — Spark lists
    and distributes files; add more segment files for more parallelism, the
    web-corpus norm) → mapInPandas parser → typed records with the payload as
    an opaque binary column (decode downstream via functions/multimodal or a
    text-extraction pass).

    on_error (a corrupt segment must not kill a 100 TB ingest):
      * "fail"       — raise (default; surfacing corruption loudly in tests);
      * "quarantine" — emit one `warc_type='_parse_error'` row per bad file
        (error text in content_type, raw bytes in payload) and keep going —
        filter/route them like JSONL's split_valid_rows quarantine;
      * "skip"       — drop bad FILES (no error row; for re-runs over known
        junk) — a bad file's records BEFORE the corrupt offset are still
        salvaged and emitted, like quarantine minus the error row.
    The prefix salvage (an O(n²) record-by-record bisect) only runs for
    quarantine/skip; "fail" raises immediately without paying for it."""
    from typing import Iterator

    import pandas as pd

    if on_error not in ("fail", "quarantine", "skip"):
        raise ValueError(f"on_error must be fail|quarantine|skip, got {on_error!r}")
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content)
                try:
                    recs = parse_warc_bytes(raw)
                except Exception as e:
                    if on_error == "fail":
                        raise ValueError(f"{p}: {e}") from e
                    recs = _salvage_warc_prefix(raw)
                    if on_error == "quarantine":
                        recs = recs + [
                            ("", "_parse_error", "", "", str(e), len(raw), raw)
                        ]
                for rec in recs:
                    rows.append(rec + (p,))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "record_id",
                        "warc_type",
                        "target_uri",
                        "warc_date",
                        "content_type",
                        "content_length",
                        "payload",
                        "source_file",
                    ],
                )

    return files.mapInPandas(parse, schema=WARC_SCHEMA)


def _salvage_warc_prefix(raw: bytes) -> "list[tuple]":
    """Records parseable before the first corrupt offset (gzip streams that
    die mid-file decode to nothing salvageable — returns [])."""
    import gzip
    import io as _io

    if raw[:2] == b"\x1f\x8b":
        try:
            raw = gzip.GzipFile(fileobj=_io.BytesIO(raw)).read()
        except Exception:
            return []
    good: list[tuple] = []
    pos = 0
    while True:
        try:
            nxt = parse_warc_bytes(raw[pos:])
        except Exception:
            # bisect: reparse record-by-record until the failure point
            try:
                one_end = raw.index(b"\r\n\r\n", pos)
                headers = {
                    k.strip().lower(): v
                    for k, _, v in (
                        line.partition(b":")
                        for line in raw[pos:one_end].split(b"\r\n")[1:]
                    )
                }
                length = int(headers.get(b"content-length", b"0").strip())
                rec = parse_warc_bytes(raw[pos : one_end + 4 + length + 4])
                good.extend(rec)
                pos = one_end + 4 + length
                continue
            except Exception:
                return good
        good.extend(nxt)
        return good


# --- WebDataset-style tar shards ---------------------------------------------

TAR_SCHEMA = (
    "shard string, key string, ext string, content_length bigint, payload binary"
)


def read_tar_shards(spark: SparkSession, path: str, on_error: str = "fail") -> DataFrame:
    """WebDataset-style .tar / .tar.gz shard reader — the de-facto layout for
    large multimodal training sets (samples stored as `<key>.<ext>` members,
    e.g. 000123.jpg + 000123.txt + 000123.json in one shard).

    Same scale shape as read_warc: binaryFile scan distributes SHARDS (one
    task per tar — parallelism = shard count, the WebDataset contract), an
    Arrow-batched mapInPandas unpacks members with stdlib tarfile. Returns
    one row per member: (shard, key, ext, content_length, payload), where
    key/ext split on the FIRST dot of the basename (WebDataset rule: the key
    is everything before the first dot, so `x.seg.png` → ext 'seg.png').

    on_error: 'fail' raises on a corrupt shard; 'quarantine' emits one
    ext='_parse_error' row per bad shard (error text in the payload);
    'skip' drops bad shards silently. Directories and PAX/global headers are
    ignored (non-file members).
    """
    from typing import Iterator

    import pandas as pd

    if on_error not in ("fail", "quarantine", "skip"):
        raise ValueError(f"on_error must be fail|quarantine|skip, got {on_error!r}")
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def unpack(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import io as _io
        import os as _os
        import tarfile

        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content)
                try:
                    # r:* autodetects gz/bz2/xz compression from magic bytes
                    with tarfile.open(fileobj=_io.BytesIO(raw), mode="r:*") as tf:
                        for m in tf:
                            if not m.isfile():
                                continue
                            base = _os.path.basename(m.name)
                            key, dot, ext = base.partition(".")
                            data = tf.extractfile(m).read()
                            rows.append((p, key, ext if dot else "", len(data), data))
                except Exception as e:
                    if on_error == "fail":
                        raise ValueError(f"{p}: {e}") from e
                    if on_error == "quarantine":
                        rows.append((p, "", "_parse_error", len(raw), str(e).encode()))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["shard", "key", "ext", "content_length", "payload"]
                )

    return files.mapInPandas(unpack, schema=TAR_SCHEMA)


def webdataset_samples(members: DataFrame, text_exts: tuple = ("txt", "json", "cls")) -> DataFrame:
    """Regroup tar members into one row per SAMPLE (shard, key): binary
    members stay in a `parts` map<ext, binary>, small text members are also
    decoded into `texts` map<ext, string> for direct column access.

    One shuffle on (shard, key) — at 100 TB samples are contiguous within a
    shard, so with shard-partitioned input this aggregation is map-side-
    mergeable; downstream multimodal UDFs (functions/multimodal.py) consume
    the map columns per Arrow batch."""
    from pyspark.sql import functions as F

    texts = F.map_filter(
        F.map_from_entries(F.collect_list(F.struct("ext", "payload"))),
        lambda k, v: k.isin(*text_exts),
    )
    return (
        members.filter(F.col("ext") != "_parse_error")
        .groupBy("shard", "key")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("ext", "payload"))).alias("parts"),
            F.transform_values(texts, lambda k, v: v.cast("string")).alias("texts"),
            F.count("*").alias("n_parts"),
        )
    )


# ---------------------------------------------------------------------------
# Format matrix: one dispatch for every self-describing / flat table format
# the engine can serve from. Parquet is the native store; ORC is the other
# columnar format large estates actually hold (same predicate-pushdown +
# column-pruning path in Spark's native reader); CSV/JSON(L) are the
# interchange formats. Extension sniffing keeps call sites declarative;
# ambiguous paths pass fmt explicitly.
# ---------------------------------------------------------------------------

_EXT_FORMAT = {
    ".parquet": "parquet",
    ".orc": "orc",
    ".csv": "csv",
    ".json": "json",
    ".jsonl": "json",  # Spark's json reader IS line-delimited by default
}


def sniff_format(path: str) -> str | None:
    """Table format implied by the path's extension (directory names count:
    'events.orc/' is an ORC dataset dir), or None when ambiguous."""
    p = path.rstrip("/")
    for ext, fmt in _EXT_FORMAT.items():
        if p.endswith(ext):
            return fmt
    return None


def read_any(
    spark: SparkSession, path: str, fmt: str | None = None, **options
) -> DataFrame:
    """Read a table in any supported format (parquet/orc/csv/json), format
    taken from `fmt` or sniffed from the extension. CSV defaults to
    header+inferSchema so a converted table round-trips typed; pass
    schema/options to override. Pushdown note: parquet AND orc go through
    Spark's native vectorized readers — filters and column pruning reach the
    scan identically, so serving from an ORC estate costs no plan quality."""
    fmt = fmt or sniff_format(path)
    if fmt is None:
        raise ValueError(
            f"cannot infer format of {path!r} — pass fmt= (one of "
            f"{sorted(set(_EXT_FORMAT.values()))})"
        )
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


def write_any(
    df: DataFrame,
    path: str,
    fmt: str | None = None,
    mode: str = "overwrite",
    partition_by: "list[str] | None" = None,
    **options,
) -> None:
    """Write `df` in any supported format (same dispatch as read_any). CSV
    gets a header so it round-trips through read_any; timestamps survive via
    each format's native encoding."""
    fmt = fmt or sniff_format(path)
    if fmt is None:
        raise ValueError(f"cannot infer format of {path!r} — pass fmt=")
    writer = df.write.mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true")
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)
