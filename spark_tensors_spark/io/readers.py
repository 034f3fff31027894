"""Sources (SURVEY §2.1).

S1/S2  N-Triples scan  — reference: Jena/rdflib per-partition parsing
       (`RDFDatasetReader.scala:20-26`, `rdfio.py:42-50`).  Here: a pure
       column-expression parse (regex extraction) — no Python boundary at
       all, fully pushed into whole-stage codegen.
S3/S4  TSV triple scan — reference: `TransE.scala:73-94`.  Here:
       `spark.read.csv(sep='\t')` with an explicit schema.
Parquet star schema   — driver testdata (TESTDATA.md).  Nine of the ten
       tables are read with the declared schema in ``TABLE_SCHEMAS``: the
       types Spark infers from the driver's files (identical at sf0.001,
       sf0.01, sf0.1 and in ``scripts/gen_scale.py`` output — pinned by
       tests/test_io_readers.py).  Declaring it skips parquet schema
       inference, a footer-reading Spark job on every read.  ``events``
       keeps inference: its ``ts`` column has shipped in two physical
       layouts, and the read has to see which one to normalize it.

All readers return DataFrames with fixed, named schemas (the reference's
positional-tuple schemas were inconsistent across files — SURVEY §1.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

TABLE_SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, "
    "s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp_ntz",
    "documents": "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

# N-Triples line: <s> <p> <o> .   |   <s> <p> "literal" .
# The reference keeps URI-only triples (`RDFDatasetReader.scala:22-25`);
# the rdflib path inverts the filter — a bug we do not replicate
# (`rdfio.py:46-47`, SURVEY §1.4).
# (?s): Java regex otherwise refuses to match '.' across U+0085/U+2028/
# U+2029, which are legal UNESCAPED inside N-Triples literals (grammar
# only excludes " \ LF CR) — without DOTALL such triples silently
# vanish while Jena/rdflib keep them (found by the escape property
# test).  Rows are already line-split by the text source, so DOTALL
# cannot over-match.
_NT_PATTERN = r"(?s)^\s*<([^>]*)>\s+<([^>]*)>\s+(.+?)\s*\.\s*$"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (read as raw
        # nanos via legacy conf, then ns→µs with integer division) and as
        # TIMESTAMP(MICROS) without timezone (read as TIMESTAMP_NTZ).
        # Normalize both to a session-tz TIMESTAMP here so every consumer
        # (unix_micros, window(), watermarks) sees one type.  The session
        # timezone is pinned to UTC (session.py), so the NTZ→TZ cast
        # preserves the wall-clock values and DuckDB's oracle agrees.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)


def ensure_scan_parallelism(df: DataFrame, min_partitions: int = 0) -> DataFrame:
    """Round-robin repartition when the scan is coarser than the
    cluster (small files collapse to one split, serializing every
    CPU-heavy stage built on top — MinHash, n-gram explode, Arrow
    UDFs).  A no-op at scale: real datasets scan as thousands of
    splits, so the guard never fires and no shuffle is added."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load the star-schema tables and register them as temp views."""
    out = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_ntriples(
    spark: SparkSession, path: str, uri_only: bool = True
) -> DataFrame:
    """N-Triples → DataFrame(s, p, o) of strings.

    Replaces the reference's per-partition Jena/rdflib parse
    (`RDFDatasetReader.scala:20-26`, `rdfio.py:42-50`) with a JVM-side
    regex projection: no Python worker, whole-stage codegen applies, and
    the text scan parallelizes by file split at any scale.

    uri_only=True keeps only triples whose object is also a URI — the
    Scala reader's (correct) semantics (`RDFDatasetReader.scala:22-25`).
    """
    lines = spark.read.text(path)
    parsed = lines.select(
        F.regexp_extract("value", _NT_PATTERN, 1).alias("s"),
        F.regexp_extract("value", _NT_PATTERN, 2).alias("p"),
        F.regexp_extract("value", _NT_PATTERN, 3).alias("o_raw"),
    ).filter(F.col("s") != "")
    if uri_only:
        parsed = parsed.filter(F.col("o_raw").rlike(r"^<[^>]*>$"))
    is_uri = F.col("o_raw").rlike(r"^<[^>]*>$")
    return parsed.select(
        "s",
        "p",
        # unwrap <...> only for URI objects; literals (possibly carrying a
        # ^^<datatype> suffix) pass through verbatim
        F.when(is_uri, F.regexp_replace("o_raw", r"^<|>$", ""))
        .otherwise(F.col("o_raw"))
        .alias("o"),
    )


_ECHAR = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def unescape_ntriples_literal(term: str) -> tuple[str, str]:
    """(lexical value, suffix) from a literal term as read_ntriples
    captures it; suffix is ``''``, ``@lang`` or ``^^<datatype>``.

    Implements the W3C N-Triples STRING_LITERAL_QUOTE / ECHAR / UCHAR
    productions, so values round-trip exactly as the reference's real
    parsers (Jena `RDFDatasetReader.scala:21`, rdflib `rdfio.py:42-50`)
    produce them — e.g. ``"say \\"hi\\""`` → ``say "hi"``.  The Spark
    column keeps the verbatim term (cheap, codegen-friendly); this
    helper is the value-level view for consumers that compare or dedup
    literal VALUES.
    """
    if not term.startswith('"'):
        raise ValueError(f"not a literal term: {term!r}")
    i, out = 1, []
    while i < len(term):
        c = term[i]
        if c == '"':
            return "".join(out), term[i + 1:]
        if c == "\\":
            nxt = term[i + 1] if i + 1 < len(term) else ""
            if nxt in _ECHAR:
                out.append(_ECHAR[nxt])
                i += 2
                continue
            if nxt == "u":
                out.append(chr(int(term[i + 2: i + 6], 16)))
                i += 6
                continue
            if nxt == "U":
                out.append(chr(int(term[i + 2: i + 10], 16)))
                i += 10
                continue
            raise ValueError(f"bad escape at {i} in {term!r}")
        out.append(c)
        i += 1
    raise ValueError(f"unterminated literal: {term!r}")


def read_tsv_triples(
    spark: SparkSession,
    path: str,
    columns: tuple[str, str, str] = ("s", "p", "o"),
) -> DataFrame:
    """TSV triple files (`TransE.scala:79-94` reads head\ttail\trelation).

    The reference hard-codes positional order per call site; here the
    caller names the columns once and gets a fixed schema back.
    """
    schema = T.StructType(
        [T.StructField(c, T.StringType(), False) for c in columns]
    )
    return spark.read.csv(path, sep="\t", schema=schema)
