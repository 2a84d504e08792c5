"""Query catalog: every implemented operator exposed as a (spark, sf_dir)
callable plus a DuckDB oracle (the driver's correctness gate).

Each entry exercises a SURVEY.md §2 operator through the engine's public
API over the driver-generated testdata tables. Column names are aliased
identically in Spark and SQL; floats are rounded on both sides before
comparison.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.identity import (keyref_violations, occurs_violations,
                                 unique_violations)
from .operators.row_checks import row_violations
from .plans.compiler import compile_plan
from .specs import ColumnSpec, KeyrefSpec, OccursSpec, TableSpec, UniqueSpec

QUERIES: dict = {}
ORACLES: dict[str, str] = {}

_log = logging.getLogger(__name__)
_fan_out_fallback_logged = False


def _load(spark: SparkSession, sf_dir: str, name: str,
          fan: bool = False) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return _fan_out(df) if fan else df


def _fan_out(df: DataFrame) -> DataFrame:
    """Redistribute a SPLIT-STARVED scan before heavy per-row compute
    (guide §2.6 stragglers/idle capacity, §6 input splits): parquet
    cannot split inside a row group, so a table written as one or two
    row groups caps every downstream narrow stage — md5 HOF folds,
    regex validation, Arrow kernels — at one or two tasks no matter
    how many cores the cluster has (measured on the r8 bench host:
    lsh_candidate_pairs 6.7s -> 1.7s, simhash64_fast 4.4s -> 0.8s at
    sf1.0, whose `documents` table is a single row group).

    Scale-adaptive, not a tuned constant: fires only when the scan's
    input is smaller than defaultParallelism (= total cluster cores)
    x maxPartitionBytes — i.e. when it CANNOT produce one split per
    core — so a production table passes through untouched and no
    shuffle is ever added at scale. The split-count upper bound is
    estimated from the relation's size statistics (metadata-only,
    ~1 ms) rather than df.rdd.getNumPartitions(), whose RDD
    conversion costs ~30 ms per call. Only worth it where downstream
    compute dominates the shuffle cost — scan-bound aggregations
    (lineitem/orders facet suites) measure SLOWER with it and stay
    un-fanned. If the size probe (a private API) fails, the split count
    decides, and the first such fallback in a process is logged."""
    global _fan_out_fallback_logged
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        size = _size_in_bytes(df)
        max_pb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes",
                           "128m"))
        starved = size < target * max_pb
    except Exception as e:
        if not _fan_out_fallback_logged:
            _fan_out_fallback_logged = True
            _log.warning("_fan_out: size-stats probe failed (%r); "
                         "using df.rdd.getNumPartitions()", e)
        starved = df.rdd.getNumPartitions() < target
    return df.repartition(target) if starved else df


def _size_in_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of df's analyzed plan (private API)."""
    return int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())


_BYTE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
                "t": 1 << 40}


def _parse_bytes(v: str) -> int:
    """Spark byte-conf string ('8m', '134217728b', '1g') -> bytes."""
    s = str(v).strip().lower()
    for suf in ("kb", "mb", "gb", "tb"):
        if s.endswith(suf):
            s = s[:-1]                     # 'mb' -> 'm'
            break
    if s and s[-1] in _BYTE_SUFFIX:
        return int(s[:-1]) * _BYTE_SUFFIX[s[-1]]
    return int(s)


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


# ---------------------------------------------------------------------------
# Facet validation (SURVEY §2.2): per-value predicates compiled from a spec
# ---------------------------------------------------------------------------

LINEITEM_SPEC = TableSpec(
    name="lineitem",
    key_column="l_orderkey",
    columns=[
        ColumnSpec("l_quantity", "double", nullable=False,
                   min_inclusive=1, max_inclusive=50),
        ColumnSpec("l_discount", "double", min_inclusive=0, max_inclusive=0.05),
        ColumnSpec("l_extendedprice", "double", min_exclusive=0),
        ColumnSpec("l_returnflag", "string", enum=["A", "N", "R"]),
        ColumnSpec("l_linestatus", "string", enum=["O"]),
        ColumnSpec("l_shipdate", "timestamp", min_inclusive="1995-06-01 00:00:00"),
    ],
)

_LINEITEM_VIOLS_SQL = """
  SELECT 'facet:minInclusive:l_quantity' AS constraint, count(*) AS n
    FROM lineitem WHERE l_quantity IS NOT NULL AND NOT (l_quantity >= 1)
  UNION ALL SELECT 'facet:maxInclusive:l_quantity', count(*)
    FROM lineitem WHERE l_quantity IS NOT NULL AND NOT (l_quantity <= 50)
  UNION ALL SELECT 'facet:minInclusive:l_discount', count(*)
    FROM lineitem WHERE l_discount IS NOT NULL AND NOT (l_discount >= 0)
  UNION ALL SELECT 'facet:maxInclusive:l_discount', count(*)
    FROM lineitem WHERE l_discount IS NOT NULL AND NOT (l_discount <= 0.05)
  UNION ALL SELECT 'facet:minExclusive:l_extendedprice', count(*)
    FROM lineitem WHERE l_extendedprice IS NOT NULL AND NOT (l_extendedprice > 0)
  UNION ALL SELECT 'facet:enumeration:l_returnflag', count(*)
    FROM lineitem WHERE l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R')
  UNION ALL SELECT 'facet:enumeration:l_linestatus', count(*)
    FROM lineitem WHERE l_linestatus IS NOT NULL AND l_linestatus NOT IN ('O')
  UNION ALL SELECT 'facet:minInclusive:l_shipdate', count(*)
    FROM lineitem WHERE l_shipdate IS NOT NULL
      AND NOT (l_shipdate >= TIMESTAMP '1995-06-01 00:00:00')
  UNION ALL SELECT 'required:l_quantity', count(*)
    FROM lineitem WHERE l_quantity IS NULL
"""


@register("facet_summary_lineitem", f"""
  WITH v AS ({_LINEITEM_VIOLS_SQL})
  SELECT "constraint", n FROM v WHERE n >= 0
""")
def facet_summary_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full facet suite over lineitem: per-constraint counts via ONE
    aggregate of conditional sums — no violation-row explode, no shuffle
    beyond a single partial+final reduce of len(checks) longs."""
    from .operators.row_checks import violation_summary
    df = _load(spark, sf_dir, "lineitem")
    plan = compile_plan(LINEITEM_SPEC)
    return violation_summary(df, plan) \
        .where(~F.col("constraint").startswith("facet:decode"))


@register("facet_rows_orders", """
  SELECT CAST(o_orderkey AS VARCHAR) AS row_key,
         'facet:enumeration:o_orderstatus' AS constraint,
         o_orderstatus AS value
    FROM orders
   WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F','O')
  UNION ALL
  SELECT CAST(o_orderkey AS VARCHAR), 'facet:pattern:o_orderpriority',
         o_orderpriority
    FROM orders
   WHERE o_orderpriority IS NOT NULL
     AND NOT regexp_matches(o_orderpriority, '^(?:[1-3]-[A-Z]+)$')
""")
def facet_rows_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation ROWS (not summary) for string facets on orders —
    enumeration + anchored XSD pattern."""
    df = _load(spark, sf_dir, "orders")
    spec = TableSpec(
        name="orders", key_column="o_orderkey",
        columns=[
            ColumnSpec("o_orderstatus", "string", enum=["F", "O"]),
            ColumnSpec("o_orderpriority", "string", pattern=[r"[1-3]-[A-Z]+"]),
        ],
    )
    return row_violations(df, compile_plan(spec)) \
        .select("row_key", "constraint", "value")


_ORDERS_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:simpleType name="priorityType">
    <xs:restriction base="xs:token">
      <xs:pattern value="[1-2]-[A-Z ]+"/>
    </xs:restriction>
  </xs:simpleType>
  <xs:element name="orders">
    <xs:complexType>
      <xs:attribute name="o_orderkey" type="xs:long" use="required"/>
      <xs:attribute name="o_orderstatus">
        <xs:simpleType>
          <xs:restriction base="xs:string">
            <xs:enumeration value="F"/>
            <xs:enumeration value="O"/>
          </xs:restriction>
        </xs:simpleType>
      </xs:attribute>
      <xs:attribute name="o_totalprice">
        <xs:simpleType>
          <xs:restriction base="xs:double">
            <xs:maxExclusive value="450000"/>
          </xs:restriction>
        </xs:simpleType>
      </xs:attribute>
      <xs:attribute name="o_orderpriority" type="priorityType"/>
    </xs:complexType>
  </xs:element>
</xs:schema>"""


@register("xsd_import_orders", """
  SELECT CAST(o_orderkey AS VARCHAR) AS row_key,
         'facet:enumeration:o_orderstatus' AS constraint,
         o_orderstatus AS value
    FROM orders
   WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F','O')
  UNION ALL
  SELECT CAST(o_orderkey AS VARCHAR), 'facet:maxExclusive:o_totalprice',
         CAST(o_totalprice AS VARCHAR)
    FROM orders
   WHERE o_totalprice IS NOT NULL AND NOT (o_totalprice < 450000)
  UNION ALL
  SELECT CAST(o_orderkey AS VARCHAR), 'facet:pattern:o_orderpriority',
         o_orderpriority
    FROM orders
   WHERE o_orderpriority IS NOT NULL
     AND NOT regexp_matches(o_orderpriority, '^(?:[1-2]-[A-Z ]+)$')
""")
def xsd_import_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The XSD-document front door (sources/xsd_import.spec_from_xsd):
    the orders constraints are authored as reference-style SCHEMA TEXT
    — a named simpleType restriction chain (token base + pattern), an
    inline enumeration, an xs:double maxExclusive bound — imported to a
    TableSpec and compiled like any hand-built spec (reference analog:
    XMLSchema(source) schema build, schemas/main.py). The oracle
    replays the same facets in SQL, so the import path itself is
    hash-gated."""
    from .sources.xsd_import import spec_from_xsd
    df = _load(spark, sf_dir, "orders")
    spec = spec_from_xsd(_ORDERS_XSD, key_column="o_orderkey")
    return row_violations(df, compile_plan(spec)) \
        .select("row_key", "constraint", "value")


# Multi-namespace schema set: the events row schema in urn:events
# imports a measurement-types library living in urn:metrics — the
# reference's namespaced-schema shape (every production XSD), with
# QName references resolving across the import (loaders.py:85-182,
# features/namespaces/*). 'xs:import' has no schemaLocation: satisfied
# via spec_from_xsd(locations=...), the reference's locations argument.
_METRICS_LIB_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"
           targetNamespace="urn:metrics" xmlns="urn:metrics">
  <xs:simpleType name="reading">
    <xs:restriction base="xs:double">
      <xs:minInclusive value="0"/>
    </xs:restriction>
  </xs:simpleType>
  <xs:simpleType name="boundedReading">
    <xs:restriction base="reading">
      <xs:maxExclusive value="99"/>
    </xs:restriction>
  </xs:simpleType>
</xs:schema>
"""

_EVENTS_MULTINS_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"
           targetNamespace="urn:events"
           xmlns:ev="urn:events" xmlns:m="urn:metrics">
  <xs:import namespace="urn:metrics"/>
  <xs:simpleType name="kind">
    <xs:restriction base="xs:token">
      <xs:enumeration value="click"/>
      <xs:enumeration value="view"/>
      <xs:enumeration value="purchase"/>
      <xs:enumeration value="error"/>
    </xs:restriction>
  </xs:simpleType>
  <xs:element name="event">
    <xs:complexType>
      <xs:attribute name="event_id" type="xs:long" use="required"/>
      <xs:attribute name="event_type" type="ev:kind"/>
      <xs:attribute name="value" type="m:boundedReading"/>
    </xs:complexType>
  </xs:element>
</xs:schema>
"""


@register("xsd_import_multins_events", """
  SELECT CAST(event_id AS VARCHAR) AS row_key,
         'facet:enumeration:event_type' AS constraint,
         event_type AS value
    FROM events
   WHERE event_type IS NOT NULL
     AND event_type NOT IN ('click','view','purchase','error')
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'facet:minInclusive:value',
         CAST(value AS VARCHAR)
    FROM events
   WHERE value IS NOT NULL AND NOT (value >= 0)
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'facet:maxExclusive:value',
         CAST(value AS VARCHAR)
    FROM events
   WHERE value IS NOT NULL AND value >= 0 AND NOT (value < 99)
""")
def xsd_import_multins_events(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Namespace-aware XSD front door: the events constraints live in
    a TWO-namespace schema set — urn:events imports a urn:metrics type
    library (no schemaLocation; satisfied via locations=), and the
    value column's restriction CHAIN crosses the import
    (ev:event/@value -> m:boundedReading -> m:reading -> xs:double).
    Reference analog: loaders.py:85-182 import processing +
    schemas.py:1180-1199 QName resolution. The oracle replays the
    flattened chain in SQL, so cross-namespace resolution itself is
    hash-gated."""
    from .sources.xsd_import import spec_from_xsd
    df = _load(spark, sf_dir, "events")
    spec = spec_from_xsd(_EVENTS_MULTINS_XSD, key_column="event_id",
                         locations={"urn:metrics": _METRICS_LIB_XSD})
    return row_violations(df, compile_plan(spec)) \
        .select("row_key", "constraint", "value")


_LINEITEM_CHAIN_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:attributeGroup name="keys">
    <xs:attribute name="l_orderkey" type="xs:long" use="required"/>
  </xs:attributeGroup>
  <xs:simpleType name="pct">
    <xs:restriction base="xs:double">
      <xs:minInclusive value="0"/>
    </xs:restriction>
  </xs:simpleType>
  <xs:simpleType name="smallPct">
    <xs:restriction base="pct">
      <xs:maxExclusive value="0.1"/>
    </xs:restriction>
  </xs:simpleType>
  <xs:simpleType name="flagType">
    <xs:restriction base="xs:token">
      <xs:enumeration value="A"/>
      <xs:enumeration value="N"/>
    </xs:restriction>
  </xs:simpleType>
  <xs:complexType name="baseLine">
    <xs:attributeGroup ref="keys"/>
    <xs:attribute name="l_quantity">
      <xs:simpleType>
        <xs:restriction base="xs:double">
          <xs:maxInclusive value="49"/>
        </xs:restriction>
      </xs:simpleType>
    </xs:attribute>
  </xs:complexType>
  <xs:element name="lineitem">
    <xs:complexType>
      <xs:complexContent>
        <xs:extension base="baseLine">
          <xs:attribute name="l_returnflag" type="flagType"/>
          <xs:attribute name="l_discount" type="smallPct"/>
        </xs:extension>
      </xs:complexContent>
    </xs:complexType>
  </xs:element>
</xs:schema>"""


@register("xsd_import_chain_lineitem", """
  SELECT CAST(l_orderkey AS VARCHAR) AS row_key,
         'facet:maxInclusive:l_quantity' AS constraint,
         CAST(l_quantity AS VARCHAR) AS value
    FROM lineitem
   WHERE l_quantity IS NOT NULL AND NOT (l_quantity <= 49)
  UNION ALL
  SELECT CAST(l_orderkey AS VARCHAR), 'facet:enumeration:l_returnflag',
         l_returnflag
    FROM lineitem
   WHERE l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N')
  UNION ALL
  SELECT CAST(l_orderkey AS VARCHAR), 'facet:maxExclusive:l_discount',
         CAST(l_discount AS VARCHAR)
    FROM lineitem
   WHERE l_discount IS NOT NULL AND NOT (l_discount < 0.1)
""")
def xsd_import_chain_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The importer's DERIVATION machinery, hash-gated: the lineitem
    constraints are authored as schema text using an attributeGroup
    ref, a named simpleType restriction CHAIN (pct -> smallPct), and a
    complexContent EXTENSION whose base carries its own attributes —
    all flattened at import (reference analog: schema build resolving
    attribute groups and complex derivations, complex_types.py:411-500,
    attributes.py:336-505). The oracle replays the flattened effective
    facets in SQL."""
    from .sources.xsd_import import spec_from_xsd
    df = _load(spark, sf_dir, "lineitem")
    spec = spec_from_xsd(_LINEITEM_CHAIN_XSD, key_column="l_orderkey")
    return row_violations(df, compile_plan(spec)) \
        .select("row_key", "constraint", "value")


# ---------------------------------------------------------------------------
# Identity constraints (SURVEY §2.4/2.5): uniqueness aggregates + anti-joins
# ---------------------------------------------------------------------------

@register("unique_custkey_orders", """
  WITH d AS (
    SELECT o_custkey, count(*) AS occurs FROM orders
     WHERE o_custkey IS NOT NULL GROUP BY o_custkey HAVING count(*) > 1)
  SELECT CAST(o.o_orderkey AS VARCHAR) AS row_key,
         'unique:custkey' AS constraint, d.occurs AS occurs
    FROM orders o JOIN d USING (o_custkey)
""")
def unique_custkey_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xs:unique on orders.o_custkey — partial+final count aggregate; one
    violation per offending row carrying the group count."""
    df = _load(spark, sf_dir, "orders")
    v = unique_violations(df, UniqueSpec("custkey", ["o_custkey"]), "o_orderkey")
    return v.select("row_key", "constraint", "occurs")


@register("unique_composite_part", """
  WITH d AS (
    SELECT p_brand, p_type, p_size, count(*) AS occurs FROM part
     WHERE p_brand IS NOT NULL AND p_type IS NOT NULL AND p_size IS NOT NULL
     GROUP BY p_brand, p_type, p_size HAVING count(*) > 1)
  SELECT CAST(p.p_partkey AS VARCHAR) AS row_key, d.occurs AS occurs
    FROM part p JOIN d USING (p_brand, p_type, p_size)
""")
def unique_composite_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-tuple uniqueness (multi-field xs:key selector)."""
    df = _load(spark, sf_dir, "part")
    v = unique_violations(
        df, UniqueSpec("btz", ["p_brand", "p_type", "p_size"]), "p_partkey")
    return v.select("row_key", "occurs")


@register("keyref_events_customer", """
  WITH miss AS (
    SELECT user_id, count(*) AS occurs FROM events
     WHERE user_id IS NOT NULL
       AND user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
     GROUP BY user_id)
  SELECT CAST(e.event_id AS VARCHAR) AS row_key, m.occurs AS occurs,
         CAST(e.user_id AS VARCHAR) AS value
    FROM events e JOIN miss m USING (user_id)
""")
def keyref_events_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xs:keyref: events.user_id must resolve in customer.c_custkey;
    broadcast anti-join with '(n times)' occurrence counts."""
    ev = _load(spark, sf_dir, "events")
    cust = _load(spark, sf_dir, "customer")
    v = keyref_violations(ev, cust,
                          KeyrefSpec("user_fk", ["user_id"],
                                     "customer", ["c_custkey"]),
                          "event_id", broadcast_ref=True)
    return v.select("row_key", "occurs", "value")


@register("keyref_lineitem_part", """
  WITH miss AS (
    SELECT l_partkey, count(*) AS occurs FROM lineitem
     WHERE l_partkey IS NOT NULL
       AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL)
     GROUP BY l_partkey)
  SELECT CAST(l.l_orderkey AS VARCHAR) AS row_key, m.occurs AS occurs
    FROM lineitem l JOIN miss m USING (l_partkey)
""")
def keyref_lineitem_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keyref lineitem.l_partkey -> part.p_partkey. TPC-H holds this FK,
    so the exact ZERO-violation result guards against false positives."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    v = keyref_violations(li, part,
                          KeyrefSpec("part_fk", ["l_partkey"],
                                     "part", ["p_partkey"]),
                          "l_orderkey", broadcast_ref=True)
    return v.select("row_key", "occurs")


@register("occurs_lineitem_per_order", """
  SELECT CAST(l_orderkey AS VARCHAR) AS row_key, count(*) AS occurs
    FROM lineitem GROUP BY l_orderkey
  HAVING count(*) < 1 OR count(*) > 6
""")
def occurs_lineitem_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minOccurs/maxOccurs per parent: orders must have 1..6 lines."""
    df = _load(spark, sf_dir, "lineitem")
    v = occurs_violations(df, OccursSpec("lines", ["l_orderkey"],
                                         min_occurs=1, max_occurs=6))
    return v.select("row_key", "occurs")


@register("verdicts_lineitem", """
  WITH viol AS (
    SELECT l_orderkey % 32 AS part_key, count(*) AS n_violations
      FROM lineitem
     WHERE (l_quantity IS NOT NULL AND NOT (l_quantity >= 1 AND l_quantity <= 50))
        OR (l_discount IS NOT NULL AND NOT (l_discount >= 0 AND l_discount <= 0.05))
        OR (l_extendedprice IS NOT NULL AND NOT (l_extendedprice > 0))
        OR (l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R'))
        OR (l_linestatus IS NOT NULL AND l_linestatus NOT IN ('O'))
        OR (l_shipdate IS NOT NULL AND NOT (l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'))
        OR l_quantity IS NULL
     GROUP BY l_orderkey % 32),
  rows_ AS (SELECT l_orderkey % 32 AS part_key, count(*) AS n_rows
              FROM lineitem GROUP BY l_orderkey % 32)
  SELECT r.part_key AS part_key, r.n_rows AS n_rows,
         COALESCE(v.n_violations, 0) AS n_violations,
         COALESCE(v.n_violations, 0) = 0 AS pass
    FROM rows_ r LEFT JOIN viol v USING (part_key)
""")
def verdicts_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition verdicts (data-derived part key l_orderkey % 32):
    rows with >=1 violation counted once per row in SQL; Spark side counts
    DISTINCT violating rows to match."""
    df = _load(spark, sf_dir, "lineitem").withColumn(
        "pk", F.col("l_orderkey") % 32)
    spec = TableSpec(**{**LINEITEM_SPEC.__dict__})
    plan = compile_plan(spec)
    from .operators.row_checks import row_valid_mask
    marked = row_valid_mask(df, plan)
    return (marked.groupBy("pk")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.when(~F.col("_row_valid"), 1).otherwise(0)).alias("n_violations"))
            .select(F.col("pk").alias("part_key"), "n_rows",
                    F.col("n_violations").cast("bigint").alias("n_violations"),
                    (F.col("n_violations") == 0).alias("pass")))


# ---------------------------------------------------------------------------
# Type decode operators (SURVEY §2.3): unions, boolean lexicals, casts
# ---------------------------------------------------------------------------

@register("union_decode_props", """
  WITH x AS (SELECT json_extract_string(props, '$.k') AS v FROM events),
  m AS (SELECT CASE
          WHEN TRY_CAST(v AS BIGINT) IS NOT NULL THEN 'bigint'
          WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL THEN 'double'
          WHEN TRY_CAST(v AS BOOLEAN) IS NOT NULL THEN 'boolean'
          WHEN v IS NOT NULL THEN 'string'
          ELSE 'none' END AS member FROM x)
  SELECT member, count(*) AS n FROM m GROUP BY member
""")
def union_decode_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XsdUnion ordered first-match decode (simple_types.py:1178-1211):
    props.k tried as bigint -> double -> boolean -> string."""
    from .functions.lexical import union_decode
    ev = _load(spark, sf_dir, "events")
    val = F.get_json_object("props", "$.k")
    dec = union_decode(val, ["bigint", "double", "boolean"])
    member = (F.when(val.isNull(), "none")
              .otherwise(F.coalesce(dec["member"], F.lit("string"))))
    return (ev.select(member.alias("member"))
            .groupBy("member").agg(F.count(F.lit(1)).alias("n")))


@register("fixed_value_consistency_documents", """
  SELECT CAST(doc_id AS VARCHAR) AS row_key,
         'fixed:n_chars' AS "constraint", CAST(n_chars AS VARCHAR) AS value
    FROM documents
   WHERE n_chars IS NOT NULL AND length(text) IS NOT NULL
     AND n_chars <> length(text)
""")
def fixed_value_consistency_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-value equality across columns (elements.py:750-769 analog):
    the stored n_chars must equal length(text)."""
    d = _load(spark, sf_dir, "documents", fan=True)
    bad = d.where(F.col("n_chars").isNotNull() & F.col("text").isNotNull()
                  & (F.col("n_chars") != F.length("text")))
    return bad.select(F.col("doc_id").cast("string").alias("row_key"),
                      F.lit("fixed:n_chars").alias("constraint"),
                      F.col("n_chars").cast("string").alias("value"))


# ---------------------------------------------------------------------------
# Column stats profile + drift (north_rule: column stats, drift checks)
# ---------------------------------------------------------------------------

@register("profile_lineitem", """
  SELECT 'l_quantity' AS col, CAST(count(l_quantity) AS BIGINT) AS n,
         CAST(count(*) - count(l_quantity) AS BIGINT) AS n_null,
         CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
         ROUND(min(l_quantity), 6) AS min_v, ROUND(max(l_quantity), 6) AS max_v
    FROM lineitem
  UNION ALL
  SELECT 'l_discount', count(l_discount), count(*) - count(l_discount),
         count(DISTINCT l_discount), ROUND(min(l_discount), 6),
         ROUND(max(l_discount), 6)
    FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', count(l_extendedprice),
         count(*) - count(l_extendedprice), count(DISTINCT l_extendedprice),
         ROUND(min(l_extendedprice), 6), ROUND(max(l_extendedprice), 6)
    FROM lineitem
""")
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-stats profile (exact distinct for oracle parity; the scale
    path uses approx_count_distinct — see profile_lineitem_approx)."""
    df = _load(spark, sf_dir, "lineitem")
    parts = []
    for c in ["l_quantity", "l_discount", "l_extendedprice"]:
        parts.append(df.agg(
            F.lit(c).alias("col"),
            F.count(c).alias("n"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
            F.countDistinct(c).alias("n_distinct"),
            F.round(F.min(c), 6).alias("min_v"),
            F.round(F.max(c), 6).alias("max_v")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register("histogram_events_value", """
  SELECT CAST(GREATEST(LEAST(FLOOR(value / 5.0), 19), 0) AS BIGINT) AS bin,
         count(*) AS n
    FROM events WHERE value IS NOT NULL
   GROUP BY 1
""")
def histogram_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (drift building block): 20 bins of width 5,
    clamped — deterministic at any parallelism."""
    ev = _load(spark, sf_dir, "events")
    b = F.greatest(F.least(F.floor(F.col("value") / 5.0), F.lit(19)), F.lit(0))
    return (ev.where(F.col("value").isNotNull())
            .groupBy(b.cast("bigint").alias("bin"))
            .agg(F.count(F.lit(1)).alias("n")))


@register("drift_events_halves", """
  WITH lo AS (SELECT CAST(GREATEST(LEAST(FLOOR(value/5.0),19),0) AS BIGINT) AS bin,
                     count(*)::DOUBLE AS c FROM events
               WHERE value IS NOT NULL AND event_id % 2 = 0 GROUP BY 1),
       hi AS (SELECT CAST(GREATEST(LEAST(FLOOR(value/5.0),19),0) AS BIGINT) AS bin,
                     count(*)::DOUBLE AS c FROM events
               WHERE value IS NOT NULL AND event_id % 2 = 1 GROUP BY 1),
       bins AS (SELECT range AS bin FROM range(0, 20)),
       p AS (SELECT b.bin, (COALESCE(lo.c,0)+0.5)/(SELECT sum(c)+10 FROM lo) AS p
               FROM bins b LEFT JOIN lo ON b.bin = lo.bin),
       q AS (SELECT b.bin, (COALESCE(hi.c,0)+0.5)/(SELECT sum(c)+10 FROM hi) AS q
               FROM bins b LEFT JOIN hi ON b.bin = hi.bin)
  SELECT 'value' AS col, ROUND(SUM(p.p * LN(p.p / q.q)), 6) AS kl
    FROM p JOIN q USING (bin)
""")
def drift_events_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence between histograms of two event cohorts (drift
    check, north_rule). Laplace smoothing 0.5/bin; deterministic."""
    from .operators.drift import kl_divergence
    ev = _load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b = F.greatest(F.least(F.floor(F.col("value") / 5.0), F.lit(19)), F.lit(0)) \
        .cast("bigint")
    lo = ev.where(F.col("event_id") % 2 == 0).select(b.alias("bin"))
    hi = ev.where(F.col("event_id") % 2 == 1).select(b.alias("bin"))
    return kl_divergence(lo, hi, "bin", n_bins=20).select(
        F.lit("value").alias("col"), F.round("kl", 6).alias("kl"))


@register("drift_multi_lineitem", """
  WITH src AS (SELECT l_orderkey % 2 AS half, l_quantity,
                      l_extendedprice, l_discount FROM lineitem),
  u AS (
    SELECT half, 'l_quantity' AS col,
           (l_quantity - 1.0) / ((50.0 - 1.0) / 32) AS raw
      FROM src WHERE l_quantity IS NOT NULL
    UNION ALL
    SELECT half, 'l_discount', (l_discount - 0.0) / ((0.1 - 0.0) / 32)
      FROM src WHERE l_discount IS NOT NULL
    UNION ALL
    SELECT half, 'l_extendedprice',
           (l_extendedprice - 900.0) / ((110000.0 - 900.0) / 32)
      FROM src WHERE l_extendedprice IS NOT NULL),
  binned AS (SELECT half, col,
                    CAST(GREATEST(LEAST(FLOOR(raw), 31), 0) AS BIGINT) AS bin
               FROM u),
  grid AS (SELECT col, range AS bin
             FROM (SELECT DISTINCT col FROM binned) CROSS JOIN range(0, 32)),
  pc AS (SELECT col, bin, count(*)::DOUBLE AS c FROM binned
          WHERE half = 0 GROUP BY 1, 2),
  qc AS (SELECT col, bin, count(*)::DOUBLE AS c FROM binned
          WHERE half = 1 GROUP BY 1, 2),
  tot AS (SELECT col,
                 sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::DOUBLE AS pt,
                 sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::DOUBLE AS qt
            FROM binned GROUP BY col),
  j AS (SELECT g.col, g.bin,
               (COALESCE(pc.c, 0) + 0.5) / (t.pt + 16) AS p,
               (COALESCE(qc.c, 0) + 0.5) / (t.qt + 16) AS q
          FROM grid g JOIN tot t USING (col)
          LEFT JOIN pc ON pc.col = g.col AND pc.bin = g.bin
          LEFT JOIN qc ON qc.col = g.col AND qc.bin = g.bin)
  SELECT col, ROUND(SUM(p * LN(p / q)), 6) AS kl,
         (ROUND(SUM(p * LN(p / q)), 6) > 0.05) AS drifted
    FROM j GROUP BY col ORDER BY col
""")
def drift_multi_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column drift in TWO data scans (round 7): KL(cur || ref)
    for THREE profiled columns between lineitem halves, with all
    3x32 histogram counters computed as aggregate expressions in ONE
    partial-agg pass per side (profile_lineitem_scale pattern — no
    Expand, no per-column rescans; previously k columns cost 2k
    scans). Fixed bounds are supplied so the plan is exactly two
    FileScans — the shape you'd ship at 10^12 rows, where each scan
    is the dominant cost. Verified two-scan by plan test
    (test_plan_shapes.py)."""
    from .operators.drift import drift_report
    li = _load(spark, sf_dir, "lineitem")
    cur = li.where(F.col("l_orderkey") % 2 == 0)
    ref = li.where(F.col("l_orderkey") % 2 == 1)
    cols = ["l_discount", "l_extendedprice", "l_quantity"]
    bounds = {"l_quantity": (1.0, 50.0), "l_discount": (0.0, 0.1),
              "l_extendedprice": (900.0, 110000.0)}
    return drift_report(cur, ref, cols, n_bins=32,
                        kl_threshold=0.05, bounds=bounds) \
        .orderBy("col")


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup / text analysis / fingerprinting
# ---------------------------------------------------------------------------

@register("dedup_exact_documents", """
  WITH fp AS (SELECT doc_id, md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
                FROM documents),
  g AS (SELECT fp, count(*) AS group_n FROM fp GROUP BY fp HAVING count(*) > 1)
  SELECT CAST(f.doc_id AS VARCHAR) AS doc_id, f.fp AS fp, g.group_n AS group_n
    FROM fp f JOIN g USING (fp)
""")
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint. The testdata corpus
    has no exact dups — exact ZERO result guards false positives."""
    from .operators.dedup import exact_duplicates
    d = _load(spark, sf_dir, "documents", fan=True)
    return exact_duplicates(d, "text", "doc_id") \
        .select(F.col("doc_id").cast("string").alias("doc_id"), "fp", "group_n")


@register("minhash_signatures_documents", """
  WITH toks AS (
    SELECT doc_id, string_split(trim(regexp_replace(text,'\\s+',' ','g')), ' ') AS w
      FROM documents),
  sh AS (
    SELECT doc_id,
           [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
            for i in generate_series(1, greatest(len(w)-2, 0))] AS shingles
      FROM toks)
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_min([md5('0|' || s) for s in shingles]) AS h0,
         list_min([md5('1|' || s) for s in shingles]) AS h1,
         list_min([md5('2|' || s) for s in shingles]) AS h2,
         list_min([md5('3|' || s) for s in shingles]) AS h3
    FROM sh
""")
def minhash_signatures_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 hash families over word 3-shingles) — the
    portable md5-min construction, bit-identical in any engine."""
    from .operators.dedup import minhash_signatures
    d = _load(spark, sf_dir, "documents", fan=True)
    return minhash_signatures(d, "text", "doc_id") \
        .select(F.col("doc_id").cast("string").alias("doc_id"),
                "h0", "h1", "h2", "h3")


@register("lsh_candidate_pairs_documents", """
  WITH toks AS (
    SELECT doc_id, string_split(trim(regexp_replace(text,'\\s+',' ','g')), ' ') AS w
      FROM documents),
  sh AS (
    SELECT doc_id,
           [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
            for i in generate_series(1, greatest(len(w)-2, 0))] AS shingles
      FROM toks),
  sig AS (
    SELECT doc_id,
           list_min([md5('0|' || s) for s in shingles]) AS h0,
           list_min([md5('1|' || s) for s in shingles]) AS h1,
           list_min([md5('2|' || s) for s in shingles]) AS h2,
           list_min([md5('3|' || s) for s in shingles]) AS h3
      FROM sh),
  bands AS (
    SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS bucket FROM sig
    UNION ALL
    SELECT doc_id, 1 AS band, md5(h2 || '|' || h3) AS bucket FROM sig),
  hot AS (SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) > 1)
  SELECT DISTINCT CAST(a.doc_id AS VARCHAR) AS id_a,
                  CAST(b.doc_id AS VARCHAR) AS id_b
    FROM bands a JOIN hot USING (band, bucket)
    JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
   WHERE CAST(a.doc_id AS VARCHAR) < CAST(b.doc_id AS VARCHAR)
""")
def lsh_candidate_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: 2 bands x 2 rows, singleton buckets
    dropped before pair generation, deterministic bucket-size cap."""
    from .operators.dedup import lsh_bucket_pairs
    d = _load(spark, sf_dir, "documents", fan=True) \
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    return lsh_bucket_pairs(d, "text", "doc_id", n_hashes=4, band_size=2)


@register("text_quality_documents", """
  WITH t AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text,'\\s+',' ','g')), ' ') AS w,
           text
      FROM documents)
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(len(w) AS BIGINT) AS n_tokens,
         ROUND(len([x for x in w if x IN ('the','a','of','and','to')])::DOUBLE
               / len(w), 6) AS stop_ratio,
         ROUND((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
               / length(text), 6) AS punct_ratio
    FROM t WHERE len(w) > 0
""")
def text_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality components: token count, stopword ratio,
    punctuation ratio — all JVM-side expressions.

    r8: the naive per-metric composition ran the \\s+ tokenizer regex
    FOUR times per row (the where-filter, n_tokens, the ratio
    denominator, the lowercased stopword scan). Both token arrays are
    now bound ONCE via bind1 lambda variables behind one Generate
    barrier (inline) — same math, same rounding, identical output."""
    from .operators.text import (STOPWORDS, _isin_pred, bind1,
                                 punct_ratio, tokens)
    d = _load(spark, sf_dir, "documents", fan=True)
    t = F.col("text")
    s = bind1(tokens(t), lambda w: bind1(
        tokens(F.lower(t)), lambda wl: F.struct(
            F.size(w).cast("bigint").alias("n_tokens"),
            F.when(F.size(w) > 0,
                   F.size(F.filter(wl, _isin_pred(STOPWORDS["en"])))
                   / F.size(w)).otherwise(0.0).alias("_stop"),
        )))
    return (d.select(F.col("doc_id").cast("string").alias("doc_id"),
                     F.round(punct_ratio(t), 6).alias("punct_ratio"),
                     F.inline(F.array(s)))
            .where(F.col("n_tokens") > 0)
            .select("doc_id", "n_tokens",
                    F.round(F.col("_stop"), 6).alias("stop_ratio"),
                    "punct_ratio"))


@register("lang_id_documents", """
  WITH t AS (
    SELECT doc_id, lang,
           string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ') AS w
      FROM documents),
  s AS (
    SELECT doc_id, lang,
           len([x for x in w if x IN ('the','a','of','and','to')]) AS s_en,
           len([x for x in w if x IN ('le','la','de','et','un')]) AS s_fr,
           len([x for x in w if x IN ('der','die','das','und','ein')]) AS s_de,
           len([x for x in w if x IN ('el','la','de','y','un')]) AS s_es
      FROM t),
  g AS (
    SELECT lang,
           CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'unknown'
                WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                WHEN s_de >= s_es THEN 'de'
                ELSE 'es' END AS guess
      FROM s)
  SELECT lang, guess, count(*) AS n FROM g GROUP BY lang, guess
""")
def lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID vs the labeled lang column (confusion
    counts). Ties resolve in fixed order en > fr > de > es."""
    from .operators.text import lang_guess
    d = _load(spark, sf_dir, "documents", fan=True)
    return (d.select("lang", lang_guess(F.col("text")).alias("guess"))
            .groupBy("lang", "guess").agg(F.count(F.lit(1)).alias("n")))


@register("fingerprint_documents", """
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
    FROM documents
""")
def fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical whole-document fingerprint (md5 of collapsed text)."""
    from .operators.text import fingerprint
    d = _load(spark, sf_dir, "documents", fan=True)
    return d.select(F.col("doc_id").cast("string").alias("doc_id"),
                    fingerprint(F.col("text")).alias("fp"))


# portable simhash oracle: bit b of token t = bit (b%4) of hex digit
# (b//4) of md5(t); per-bit majority vote — identical math to
# operators/text.simhash_bits, generated for all 48 bits
_SIMHASH_TERMS = " + ".join(
    f"CASE WHEN 2*len([1 for v in dg if (v[{b // 4 + 1}] & {1 << (b % 4)}) <> 0]) > n"
    f" THEN {1 << b}::BIGINT ELSE 0::BIGINT END"
    for b in range(48))


@register("simhash_documents", f"""
  WITH t AS (
    SELECT doc_id, string_split(trim(regexp_replace(text,'\\s+',' ','g')), ' ') AS w
      FROM documents),
  d AS (
    SELECT doc_id,
           [[strpos('0123456789abcdef', substr(md5(x), p, 1)) - 1
             for p in generate_series(1, 12)] for x in w] AS dg,
           len(w) AS n
      FROM t)
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, ({_SIMHASH_TERMS}) AS simhash
    FROM d
""")
def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit portable SimHash per document (md5-digit bit source —
    bit-identical in any engine; full DuckDB value oracle)."""
    from .operators.text import simhash48_fast
    d = _load(spark, sf_dir, "documents", fan=True) \
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    return simhash48_fast(d, "text", "doc_id") \
        .withColumnRenamed("sh48", "simhash")


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (_load(spark, sf_dir, "embeddings")
           .where(F.col("vec_id") == 0).select("embedding").collect())
    return [float(x) for x in row[0][0]]


@register("ann_topk_bruteforce", """
  WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
  SELECT CAST(e.vec_id AS VARCHAR) AS vec_id,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                CAST(q.qv AS DOUBLE[]))
               / NULLIF(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                              CAST(q.qv AS DOUBLE[]))), 0),
               4) AS sim
    FROM embeddings e, q
   ORDER BY sim DESC, CAST(e.vec_id AS VARCHAR) ASC
   LIMIT 10
""")
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 to the vec_id=0 embedding. Physical plan is
    TakeOrderedAndProject: per-partition top-k, merge on driver — no
    global sort."""
    from .operators.similarity import cosine_topk
    e = _load(spark, sf_dir, "embeddings")
    return cosine_topk(e, "embedding", "vec_id", _query_vec(spark, sf_dir),
                       k=10).select(F.col("vec_id").cast("string").alias("vec_id"),
                                    "sim")


# shared DuckDB fragment: md5-derived +-1 hyperplanes + sign-LSH bucket,
# bit-identical to operators/similarity.plane_weight / lsh_bucket (the
# weights are engine-portable by construction — first-md5-byte parity)
def _bucket_cte(n_planes: int) -> str:
    return f"""
  dims AS (SELECT len(embedding) AS nd FROM embeddings LIMIT 1),
  w AS (
    SELECT p, list_transform(range(0, (SELECT nd FROM dims)),
             d -> CASE WHEN strpos('13579bdf',
                          substr(md5('p' || p || '|d' || d), 2, 1)) > 0
                  THEN -1.0 ELSE 1.0 END) AS wt
      FROM range(0, {n_planes}) t(p)),
  b AS (
    SELECT e.vec_id, e.embedding,
           SUM(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          w.wt) >= 0
                    THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
      FROM embeddings e CROSS JOIN w
     GROUP BY e.vec_id, e.embedding)"""


@register("ann_topk_lsh", f"""
  WITH {_bucket_cte(6)},
  qb AS (SELECT bucket FROM b WHERE vec_id = 0),
  probes AS (
    SELECT xor((SELECT bucket FROM qb), (1::BIGINT << p)) AS pb
      FROM range(0, 6) t(p)
    UNION ALL SELECT bucket FROM qb),
  q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
         WHERE vec_id = 0)
  SELECT CAST(c.vec_id AS VARCHAR) AS vec_id,
         ROUND(list_dot_product(CAST(c.embedding AS DOUBLE[]), q.qv)
               / NULLIF(sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                              CAST(c.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(q.qv, q.qv)), 0), 4) AS sim
    FROM b c, q
   WHERE c.bucket IN (SELECT pb FROM probes)
   ORDER BY sim DESC, c.vec_id ASC
   LIMIT 10
""")
def ann_topk_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (scale path). Fully oracle-checked: the
    md5-derived hyperplanes are engine-portable, so DuckDB replicates
    the probe-set filter (query bucket + all Hamming-1 flips) and the
    exact cosine top-k bit-for-bit."""
    from .operators.similarity import ann_topk_lsh
    e = _load(spark, sf_dir, "embeddings")
    return ann_topk_lsh(e, "embedding", "vec_id",
                        _query_vec(spark, sf_dir), k=10, n_planes=6) \
        .select(F.col("vec_id").cast("string").alias("vec_id"), "sim")


@register("embedding_near_dups", """
  SELECT CAST(a.vec_id AS VARCHAR) AS id_a, CAST(b.vec_id AS VARCHAR) AS id_b,
         ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[]))
               / NULLIF(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                              CAST(a.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                              CAST(b.embedding AS DOUBLE[]))), 0),
               4) AS sim
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < b.vec_id
   WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]),
                          CAST(b.embedding AS DOUBLE[]))
         / NULLIF(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                        CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[]))), 0)
         >= 0.3
""")
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute-force exact for oracle
    parity; the LSH-blocked variant is embedding_near_dups_lsh)."""
    from .operators.similarity import cosine_near_dup_pairs
    e = _load(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(e, "embedding", "vec_id", threshold=0.3,
                                 brute_force=True) \
        .select(F.col("id_a").cast("string").alias("id_a"),
                F.col("id_b").cast("string").alias("id_b"), "sim")


@register("embedding_near_dups_lsh", f"""
  WITH {_bucket_cte(4)},
  pairs AS (
    SELECT CAST(a.vec_id AS VARCHAR) AS id_a,
           CAST(c.vec_id AS VARCHAR) AS id_b,
           ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[]))
                 / NULLIF(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                                CAST(a.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                                CAST(c.embedding AS DOUBLE[]))),
                          0), 4) AS sim
      FROM b a JOIN b c
        ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
  SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.3
""")
def embedding_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked near-dup pairs (the 100TB path: one BLAS gemm per
    bucket instead of a cross join; native bigint ids, so pairs are in
    numeric order). Fully oracle-checked: md5-portable hyperplanes let
    DuckDB reproduce the exact bucket blocking, i.e. the brute result
    RESTRICTED TO SHARED BUCKETS — recall<1 vs brute is by design, but
    the blocked result itself is deterministic and exact."""
    from .operators.similarity import cosine_near_dup_pairs
    e = _load(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(e, "embedding", "vec_id", threshold=0.3,
                                 n_planes=4, brute_force=False) \
        .select(F.col("id_a").cast("string").alias("id_a"),
                F.col("id_b").cast("string").alias("id_b"), "sim")


# ---------------------------------------------------------------------------
# Conditional type assignment, temporal ops, sorts/top-k, lexical checks
# ---------------------------------------------------------------------------

@register("conditional_facets_events", """
  SELECT CAST(event_id AS VARCHAR) AS row_key,
         'cond:click_rules:facet:minInclusive:value' AS "constraint"
    FROM events
   WHERE event_type = 'click' AND value IS NOT NULL AND NOT (value >= 5)
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'cond:error_rules:facet:maxInclusive:value'
    FROM events
   WHERE event_type = 'error' AND value IS NOT NULL AND NOT (value <= 50)
""")
def conditional_facets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional type assignment (xsi:type / type alternatives,
    elements.py:654-684): different facet sets per event_type, compiled
    to when(cond, check) — no join, single scan."""
    from .specs import ConditionalSpec
    ev = _load(spark, sf_dir, "events")
    spec = TableSpec(
        name="events", key_column="event_id",
        conditionals=[
            ConditionalSpec("click_rules", "event_type = 'click'",
                            [ColumnSpec("value", "double", min_inclusive=5)]),
            ConditionalSpec("error_rules", "event_type = 'error'",
                            [ColumnSpec("value", "double", max_inclusive=50)]),
        ],
    )
    return row_violations(ev, compile_plan(spec)) \
        .select("row_key", "constraint")


@register("quantiles_lineitem", """
  SELECT 'l_extendedprice' AS col, CAST(0.25 AS DOUBLE) AS quantile,
         CAST(ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS DOUBLE) AS value FROM lineitem
  UNION ALL SELECT 'l_extendedprice', CAST(0.5 AS DOUBLE),
         CAST(ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS DOUBLE) FROM lineitem
  UNION ALL SELECT 'l_extendedprice', CAST(0.75 AS DOUBLE),
         CAST(ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS DOUBLE) FROM lineitem
  UNION ALL SELECT 'l_extendedprice', CAST(0.95 AS DOUBLE),
         CAST(ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS DOUBLE) FROM lineitem
""")
def quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed percentiles (oracle-parity path). The sketch
    path for 10^12 rows is the canonical q-digest (qdigest_lineitem,
    qdigest_quantiles_lineitem, quantile_sketch_rank_check)."""
    df = _load(spark, sf_dir, "lineitem")
    qs = [0.25, 0.5, 0.75, 0.95]
    row = df.agg(F.percentile("l_extendedprice", qs).alias("v"))
    qarr = F.array(*[F.lit(q) for q in qs])
    return row.select(
        F.lit("l_extendedprice").alias("col"),
        F.posexplode("v").alias("qi", "raw")) \
        .select("col", F.element_at(qarr, F.col("qi") + 1).alias("quantile"),
                F.round("raw", 4).alias("value"))


@register("topk_orders_per_priority", """
  WITH r AS (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
  SELECT o_orderpriority, CAST(o_orderkey AS VARCHAR) AS row_key,
         ROUND(o_totalprice, 2) AS total
    FROM r WHERE rn <= 3
""")
def topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via window row_number (deterministic tiebreak on
    the key). Physical: one shuffle on the group key, per-partition sort
    — never a global sort."""
    from pyspark.sql import Window
    df = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority") \
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("o_orderpriority",
                    F.col("o_orderkey").cast("string").alias("row_key"),
                    F.round("o_totalprice", 2).alias("total")))


@register("orders_by_month", """
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         count(*) AS n, ROUND(sum(o_totalprice), 2) AS total
    FROM orders WHERE o_orderdate IS NOT NULL
   GROUP BY 1
""")
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal rollup (date_trunc month) — datetime scalar functions
    (reference datetime parsers, builtins.py:103-136)."""
    df = _load(spark, sf_dir, "orders")
    return (df.where(F.col("o_orderdate").isNotNull())
            .groupBy(F.date_trunc("month", "o_orderdate")
                     .cast("date").alias("month"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total")))


@register("hex_base64_lexical_documents", """
  WITH x AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN md5(text) || 'g'
                ELSE md5(text) END AS hexv
      FROM documents)
  SELECT CAST(doc_id AS VARCHAR) AS row_key,
         'facet:hexBinary' AS "constraint", hexv AS value
    FROM x
   WHERE NOT regexp_matches(hexv, '^([0-9a-fA-F]{2})*$')
""")
def hex_base64_lexical_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xs:hexBinary lexical validation (helpers.py:240-248): md5 digests
    pass; every 7th is corrupted with a non-hex suffix and must fail."""
    from .functions.lexical import hex_binary_ok
    d = _load(spark, sf_dir, "documents", fan=True)
    hexv = F.when(F.col("doc_id") % 7 == 0,
                  F.concat(F.md5("text"), F.lit("g"))) \
            .otherwise(F.md5("text"))
    x = d.select(F.col("doc_id").cast("string").alias("row_key"),
                 hexv.alias("hexv"))
    return (x.where(~hex_binary_ok(F.col("hexv")))
            .select("row_key", F.lit("facet:hexBinary").alias("constraint"),
                    F.col("hexv").alias("value")))


@register("boolean_lexical_events", """
  WITH x AS (
    SELECT event_id,
           CASE event_id % 5 WHEN 0 THEN 'true' WHEN 1 THEN '1'
                WHEN 2 THEN 'false' WHEN 3 THEN '0' ELSE 'yes' END AS lex
      FROM events),
  m AS (SELECT CASE WHEN trim(lex) IN ('true','1') THEN 'true'
                    WHEN trim(lex) IN ('false','0') THEN 'false'
                    ELSE 'invalid' END AS decoded FROM x)
  SELECT decoded, count(*) AS n FROM m GROUP BY decoded
""")
def boolean_lexical_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xs:boolean lexical space ('true','1','false','0'; helpers.py:26-29):
    decode counts over a derived lexical column; 'yes' is invalid."""
    from .functions.lexical import boolean_lexical
    ev = _load(spark, sf_dir, "events")
    lex = F.element_at(F.array(F.lit("true"), F.lit("1"), F.lit("false"),
                               F.lit("0"), F.lit("yes")),
                       (F.col("event_id") % 5 + 1).cast("int"))
    dec = boolean_lexical(lex)
    decoded = (F.when(dec.isNull(), "invalid")
               .when(dec, "true").otherwise("false"))
    return (ev.select(decoded.alias("decoded"))
            .groupBy("decoded").agg(F.count(F.lit(1)).alias("n")))


@register("decode_to_json_documents", """
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         '{"doc_id":' || doc_id || ',"lang":"' || lang || '","n_chars":'
           || n_chars || '}' AS js
    FROM documents
""")
def decode_to_json_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validated-decode sink shape: rows as JSON text (reference:
    to_json/to_dict sinks, documents.py:275,301 + ColumnarConverter
    flattening, converters/columnar.py:23-174)."""
    d = _load(spark, sf_dir, "documents", fan=True)
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.to_json(F.struct(F.col("doc_id"), F.col("lang"),
                           F.col("n_chars"))).alias("js"))


@register("ngram_jaccard_candidates", """
  WITH toks AS (
    SELECT doc_id, string_split(trim(regexp_replace(text,'\\s+',' ','g')), ' ') AS w
      FROM documents),
  sh AS (
    SELECT doc_id,
           list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
            for i in generate_series(1, greatest(len(w)-2, 0))]) AS s
      FROM toks),
  sig AS (
    SELECT doc_id,
           list_min([md5('0|' || x) for x in s]) AS h0,
           list_min([md5('1|' || x) for x in s]) AS h1,
           list_min([md5('2|' || x) for x in s]) AS h2,
           list_min([md5('3|' || x) for x in s]) AS h3
      FROM (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
            for i in generate_series(1, greatest(len(w)-2, 0))] AS s
              FROM toks) q),
  bands AS (
    SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS bucket FROM sig
    UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig),
  hot AS (SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) > 1),
  pairs AS (
    SELECT DISTINCT CAST(a.doc_id AS VARCHAR) AS id_a,
                    CAST(b.doc_id AS VARCHAR) AS id_b
      FROM bands a JOIN hot USING (band, bucket)
      JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
     WHERE CAST(a.doc_id AS VARCHAR) < CAST(b.doc_id AS VARCHAR))
  SELECT p.id_a, p.id_b,
         ROUND(len(list_intersect(sa.s, sb.s))::DOUBLE
               / len(list_distinct(sa.s || sb.s)), 6) AS jaccard
    FROM pairs p
    JOIN sh sa ON CAST(sa.doc_id AS VARCHAR) = p.id_a
    JOIN sh sb ON CAST(sb.doc_id AS VARCHAR) = p.id_b
""")
def ngram_jaccard_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates + exact word-3-gram Jaccard verification — the
    standard two-stage near-dup pipeline (cheap blocking, exact verify
    only inside blocks)."""
    from .operators.dedup import lsh_bucket_pairs, ngram_jaccard
    d = _load(spark, sf_dir, "documents", fan=True) \
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    pairs = lsh_bucket_pairs(d, "text", "doc_id")
    return ngram_jaccard(d, "text", "doc_id", pairs) \
        .select("id_a", "id_b", "jaccard")


@register("embedding_near_dups_vectorized", f"""
  WITH {_bucket_cte(4)},
  pairs AS (
    SELECT CAST(a.vec_id AS VARCHAR) AS id_a,
           CAST(c.vec_id AS VARCHAR) AS id_b,
           ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[]))
                 / NULLIF(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                                CAST(a.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                                CAST(c.embedding AS DOUBLE[]))),
                          0), 4) AS sim
      FROM b a JOIN b c
        ON a.bucket = c.bucket
       -- the vectorized operator orients pairs LEXICOGRAPHICALLY on the
       -- string-cast id (its applyInPandas schema is string); compare
       -- as VARCHAR, not numerically
       AND CAST(a.vec_id AS VARCHAR) < CAST(c.vec_id AS VARCHAR))
  SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.3
""")
def embedding_near_dups_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH near-dup core (cosine_near_dup_pairs: one BLAS gemm per
    bucket, rounded in Spark) over a fanned-out scan with STRING ids, so
    pairs are in lexicographic order. Oracle: the same bucket-restricted
    exact SQL as embedding_near_dups_lsh with a VARCHAR id comparison;
    tests/test_pipeline_ops.py checks the core against the brute path
    for both id types."""
    from .operators.similarity import cosine_near_dup_pairs
    # fan=True: the per-row unit_vector/lsh_bucket HOFs run map-side —
    # a single-row-group embeddings file serializes them (guide §2.6).
    # dims probed from the RAW scan (one-row parquet read); probing the
    # fanned frame would run the whole repartition shuffle for one row.
    raw = _load(spark, sf_dir, "embeddings")
    dims = len(raw.select("embedding").first()[0])
    e = _fan_out(raw).withColumn("vec_id", F.col("vec_id").cast("string"))
    return cosine_near_dup_pairs(e, "embedding", "vec_id", threshold=0.3,
                                 n_planes=4, dims=dims)


# full DuckDB replication of the IVF pipeline: deterministic seeds
# (16 smallest vec_ids, rounded 6dp) -> 2 Lloyd steps (argmax of
# 2*v.c - |c|^2, ties to the lowest cell; per-dim avgs rounded 6dp;
# empty cells keep the previous centroid) -> probe the 4 cells nearest
# the query -> exact cosine top-10. Mirrors operators/similarity.
# ivf_assign step for step.
_IVF_ASSIGN = """
  a{n} AS (
    SELECT e.vec_id, e.v,
           (SELECT c{m}.cell FROM c{m}
             ORDER BY (2 * list_dot_product(e.v, c{m}.c)
                       - list_dot_product(c{m}.c, c{m}.c)) DESC,
                      c{m}.cell ASC
             LIMIT 1) AS cell
      FROM e)"""

_IVF_MEANS = """
  m{n} AS (
    SELECT cell, list(r ORDER BY d) AS c
      FROM (SELECT a{n}.cell, t.d, ROUND(AVG(a{n}.v[t.d]), 6) AS r
              FROM a{n}, dims_r t(d)
             GROUP BY a{n}.cell, t.d)
     GROUP BY cell),
  c{n} AS (
    SELECT c{m}.cell, COALESCE(m{n}.c, c{m}.c) AS c
      FROM c{m} LEFT JOIN m{n} USING (cell))"""

_IVF_SQL = f"""
  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
  dims_r AS (SELECT UNNEST(range(1, (SELECT len(v) FROM e LIMIT 1) + 1))
             AS d),
  c0 AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           list_transform(v, x -> ROUND(x, 6)) AS c
      FROM e ORDER BY vec_id LIMIT 16),
  {_IVF_ASSIGN.format(n=1, m=0)},
  {_IVF_MEANS.format(n=1, m=0)},
  {_IVF_ASSIGN.format(n=2, m=1)},
  {_IVF_MEANS.format(n=2, m=1)},
  {_IVF_ASSIGN.format(n=3, m=2)},
  q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
  probes AS (
    SELECT c2.cell FROM c2, q
     ORDER BY list_dot_product(c2.c, c2.c)
              - 2 * list_dot_product(c2.c, q.qv) ASC, c2.cell ASC
     LIMIT 4)
  SELECT CAST(a3.vec_id AS VARCHAR) AS vec_id,
         ROUND(list_dot_product(a3.v, q.qv)
               / NULLIF(sqrt(list_dot_product(a3.v, a3.v))
                      * sqrt(list_dot_product(q.qv, q.qv)), 0), 4) AS sim
    FROM a3, q
   WHERE a3.cell IN (SELECT cell FROM probes)
   ORDER BY sim DESC, a3.vec_id ASC
   LIMIT 10
"""


@register("ann_topk_ivf", _IVF_SQL)
def ann_topk_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic coarse cells + nprobe scan pruning.
    Fully oracle-checked: the whole pipeline (seeds, Lloyd refinement,
    probe selection, exact cosine re-rank) is deterministic, so DuckDB
    reproduces it end to end. (Caveat: Spark rounds centroid means via
    Python banker's rounding, DuckDB via half-away — divergence needs an
    avg landing within 1 ulp of a 5e-7 boundary, checked green at the
    driver's sf.)"""
    from .operators.similarity import ann_topk_ivf
    e = _load(spark, sf_dir, "embeddings")
    return ann_topk_ivf(e, "embedding", "vec_id",
                        _query_vec(spark, sf_dir), k=10,
                        n_centroids=16, nprobe=4) \
        .select(F.col("vec_id").cast("string").alias("vec_id"), "sim")


# ---------------------------------------------------------------------------
# Round-2 additions: approx profile, sketch guarantees, ANN recall gates,
# union member facets, lexical list decode, cross-increment identity scope
# ---------------------------------------------------------------------------

@register("profile_lineitem_approx", """
  SELECT 'l_quantity' AS col, CAST(count(l_quantity) AS BIGINT) AS n,
         TRUE AS approx_ok FROM lineitem
  UNION ALL
  SELECT 'l_discount', count(l_discount), TRUE FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', count(l_extendedprice), TRUE FROM lineitem
""")
def profile_lineitem_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate column profile — the 10^12-row scale path: HLL
    approx_count_distinct (mergeable, no full-key shuffle) instead of the
    exact countDistinct of profile_lineitem. The check verifies the HLL
    estimate lands within tolerance of truth (exact is computable at test
    scale; at production scale only the approx branch runs)."""
    df = _load(spark, sf_dir, "lineitem")
    parts = []
    for c in ["l_quantity", "l_discount", "l_extendedprice"]:
        parts.append(df.agg(
            F.lit(c).alias("col"),
            F.count(c).alias("n"),
            F.countDistinct(c).alias("_exact"),
            F.approx_count_distinct(c, 0.02).alias("_approx")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    tol_ok = (F.abs(F.col("_approx") - F.col("_exact"))
              <= F.greatest(F.lit(1.0), 0.1 * F.col("_exact")))
    return out.select("col", "n", tol_ok.alias("approx_ok"))


@register("profile_lineitem_scale", """
  WITH a AS (
    SELECT count(l_quantity) AS n_q,
           CAST(count(*) - count(l_quantity) AS BIGINT) AS null_q,
           ROUND(min(l_quantity), 6) AS min_q, ROUND(max(l_quantity), 6) AS max_q,
           count(l_discount) AS n_d,
           CAST(count(*) - count(l_discount) AS BIGINT) AS null_d,
           ROUND(min(l_discount), 6) AS min_d, ROUND(max(l_discount), 6) AS max_d,
           count(l_extendedprice) AS n_p,
           CAST(count(*) - count(l_extendedprice) AS BIGINT) AS null_p,
           ROUND(min(l_extendedprice), 6) AS min_p, ROUND(max(l_extendedprice), 6) AS max_p
      FROM lineitem)
  SELECT 'l_quantity' AS col, n_q AS n, null_q AS n_null,
         min_q AS min_v, max_q AS max_v, TRUE AS approx_sane FROM a
  UNION ALL
  SELECT 'l_discount', n_d, null_d, min_d, max_d, TRUE FROM a
  UNION ALL
  SELECT 'l_extendedprice', n_p, null_p, min_p, max_p, TRUE FROM a
""")
def profile_lineitem_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10^12-row profile plan: ONE pass over the table computing
    count / null-count / min / max / HLL approx-distinct for every
    profiled column in a single partial-aggregate reduce (no exact
    countDistinct anywhere — Spark plans that as an Expand + per-column
    shuffle, which is the wrong default at scale; the tolerance-gated
    profile_lineitem_approx keeps HLL honest at test scale). The HLL
    estimate itself is engine-specific, so the oracle hashes the
    deterministic stats and a sanity bound on the estimate
    (1 <= approx <= n)."""
    df = _load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_extendedprice"]
    aggs = []
    for c in cols:
        aggs += [F.count(c).alias(f"n_{c}"),
                 (F.count(F.lit(1)) - F.count(c)).alias(f"null_{c}"),
                 F.round(F.min(c), 6).alias(f"min_{c}"),
                 F.round(F.max(c), 6).alias(f"max_{c}"),
                 F.approx_count_distinct(c, 0.02).alias(f"nd_{c}")]
    one = df.agg(*aggs)
    # unpivot the single row to one row per column (driver-free: stack
    # is a codegen projection over the one aggregated row)
    stack_args = ", ".join(
        f"'{c}', n_{c}, null_{c}, CAST(min_{c} AS DOUBLE), "
        f"CAST(max_{c} AS DOUBLE), nd_{c}" for c in cols)
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col, n, n_null, min_v, max_v, _nd)"
    ).select("col", "n", "n_null", "min_v", "max_v",
             # an HLL estimate may overshoot the true distinct count a
             # little, never the row count by much; all-null column -> 0
             (((F.col("n") == 0) & (F.col("_nd") == 0))
              | ((F.col("_nd") >= 1)
                 & (F.col("_nd") <= F.col("n") * 1.5 + 100))
              ).alias("approx_sane"))


_NESTED_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="event">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="meta" minOccurs="0">
          <xs:complexType>
            <xs:sequence>
              <xs:element name="k" minOccurs="0">
                <xs:simpleType>
                  <xs:restriction base="xs:int">
                    <xs:maxInclusive value="75"/>
                  </xs:restriction>
                </xs:simpleType>
              </xs:element>
            </xs:sequence>
            <xs:attribute name="etype" type="xs:string" use="required"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
      <xs:attribute name="event_id" type="xs:long" use="required"/>
    </xs:complexType>
  </xs:element>
</xs:schema>"""


@register("nested_record_events", """
  WITH ev AS (
    SELECT event_id,
           (event_id % 7 != 0) AS has_meta,
           CASE WHEN event_type = 'purchase' THEN NULL
                ELSE event_type END AS etype,
           json_extract_string(props, '$.k') AS k
      FROM events)
  SELECT CAST(event_id AS VARCHAR) AS row_key,
         'required:meta.etype' AS constraint,
         '' AS value   -- engine renders a NULL offending value as ''
    FROM ev WHERE has_meta AND etype IS NULL
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'facet:maxInclusive:meta.k', k
    FROM ev WHERE has_meta AND CAST(k AS INT) > 75
""")
def nested_record_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-record validation over a STRUCT column: the XSD importer
    maps a record-shaped complex child (complex_types.py content
    mapping) to dotted nested-field ColumnSpecs ('meta.etype',
    'meta.k'); required fields are guarded by parent presence
    (an absent optional record violates nothing) and facets compile
    against the nested projection — struct-field pruning reaches the
    parquet ReadSchema, so at 100 TB unreferenced record branches are
    never read."""
    from .sources.xsd_import import spec_from_xsd
    df = _load(spark, sf_dir, "events")
    nested = df.select(
        "event_id",
        F.when(F.col("event_id") % 7 != 0, F.struct(
            F.when(F.col("event_type") != "purchase",
                   F.col("event_type")).alias("etype"),
            F.get_json_object("props", "$.k").alias("k"),
        )).alias("meta"))
    spec = spec_from_xsd(_NESTED_XSD, key_column="event_id")
    return row_violations(nested, compile_plan(spec)) \
        .select("row_key", "constraint", "value")


_RECARR_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="event">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="items" minOccurs="1" maxOccurs="2">
          <xs:complexType>
            <xs:sequence>
              <xs:element name="k" minOccurs="0">
                <xs:simpleType>
                  <xs:restriction base="xs:int">
                    <xs:maxInclusive value="75"/>
                  </xs:restriction>
                </xs:simpleType>
              </xs:element>
            </xs:sequence>
            <xs:attribute name="tag" type="xs:string" use="required"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
      <xs:attribute name="event_id" type="xs:long" use="required"/>
    </xs:complexType>
  </xs:element>
</xs:schema>"""


@register("record_array_events", """
  WITH ev AS (
    SELECT event_id, event_type,
           json_extract_string(props, '$.k') AS k,
           (event_id % 5 != 0) AS has_arr,
           CASE WHEN event_id % 5 = 0 THEN 0
                WHEN event_id % 7 = 0 THEN 3
                WHEN event_id % 2 = 0 THEN 2
                ELSE 1 END AS n_items
      FROM events)
  SELECT CAST(event_id AS VARCHAR) AS row_key,
         'occurs:items:min' AS constraint, '0' AS value
    FROM ev WHERE n_items < 1
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'occurs:items:max', '3'
    FROM ev WHERE n_items > 2
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'required:items.tag', ''
    FROM ev WHERE n_items >= 2 AND event_type = 'error'
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'facet:maxInclusive:items.k', k
    FROM ev WHERE has_arr AND CAST(k AS INT) > 75
""")
def record_array_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated record children as array<struct> (RecordArraySpec):
    particle occurs bound the ARRAY SIZE on the parent row; element
    facets run over an exploded projection — explode is a narrow
    transformation, so per-element validation adds zero shuffles at
    any scale. The XSD importer derives the whole spec from a
    maxOccurs>1 complex child."""
    from .sources.xsd_import import spec_from_xsd
    from .runner import validate
    df = _load(spark, sf_dir, "events")
    base = F.struct(F.col("event_type").alias("tag"),
                    F.get_json_object("props", "$.k").alias("k"))
    second = F.struct(
        F.when(F.col("event_type") != "error", F.lit("x")).alias("tag"),
        F.lit("5").alias("k"))
    third = F.struct(F.lit("y").alias("tag"), F.lit("0").alias("k"))
    ev = df.select(
        "event_id",
        F.when(F.col("event_id") % 5 == 0,
               F.lit(None).cast(
                   "array<struct<tag string, k string>>"))
         .when(F.col("event_id") % 7 == 0, F.array(base, second, third))
         .when(F.col("event_id") % 2 == 0, F.array(base, second))
         .otherwise(F.array(base)).alias("items"))
    spec = spec_from_xsd(_RECARR_XSD, key_column="event_id")
    return validate(ev, spec).violations \
        .select("row_key", "constraint", "value")


_RECUR_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:complexType name="TNode">
    <xs:sequence>
      <xs:element name="val" minOccurs="0">
        <xs:simpleType>
          <xs:restriction base="xs:int">
            <xs:maxInclusive value="50"/>
          </xs:restriction>
        </xs:simpleType>
      </xs:element>
      <xs:element name="next" type="TNode" minOccurs="0"/>
    </xs:sequence>
  </xs:complexType>
  <xs:element name="event">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="next" type="TNode" minOccurs="0"/>
      </xs:sequence>
      <xs:attribute name="event_id" type="xs:long" use="required"/>
    </xs:complexType>
  </xs:element>
</xs:schema>"""


@register("recursion_cut_events", """
  WITH ev AS (
    SELECT event_id,
           json_extract_string(props, '$.k') AS k,
           (event_id % 3 != 0) AS l1,
           (event_id % 3 != 0 AND event_id % 4 = 0) AS l2,
           (event_id % 3 != 0 AND event_id % 4 = 0
            AND event_id % 8 = 0) AS l3
      FROM events)
  SELECT CAST(event_id AS VARCHAR) AS row_key,
         'recursion:depth:next.next.next' AS constraint,
         CAST(NULL AS VARCHAR) AS value
    FROM ev WHERE l3
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'facet:maxInclusive:next.val', k
    FROM ev WHERE l1 AND CAST(k AS INT) > 50
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'facet:maxInclusive:next.next.val',
         k
    FROM ev WHERE l2 AND CAST(k AS INT) > 50
""")
def recursion_cut_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded recursion unrolling (spec_from_xsd unroll_recursion=1):
    a RECURSIVE record type (linked-list TNode) materializes one
    re-entry as nested struct levels — facets validate at every
    unrolled level — and content BEYOND the cut path is rejected
    ('recursion:depth:next.next.next'). The reference validates
    recursion to unbounded depth over XML trees
    (validators/groups.py iter_model); a Spark schema is finite-depth
    by construction, so the cut makes the tabular boundary explicit
    instead of silently unchecked. The check stays row-local (one
    codegen pass, zero shuffles at any scale)."""
    from .runner import validate
    from .sources.xsd_import import spec_from_xsd
    df = _load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    lvl3 = F.when(F.col("event_id") % 8 == 0,
                  F.struct(k.alias("val")))
    lvl2 = F.when(F.col("event_id") % 4 == 0,
                  F.struct(k.alias("val"), lvl3.alias("next")))
    nested = df.select(
        "event_id",
        F.when(F.col("event_id") % 3 != 0,
               F.struct(k.alias("val"), lvl2.alias("next")))
         .alias("next"))
    spec = spec_from_xsd(_RECUR_XSD, key_column="event_id",
                         unroll_recursion=1)
    return validate(nested, spec).violations \
        .select("row_key", "constraint", "value")


_DUPSIB_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:simpleType name="KInt">
    <xs:restriction base="xs:int">
      <xs:maxInclusive value="50"/>
    </xs:restriction>
  </xs:simpleType>
  <xs:element name="event">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="a" type="KInt"/>
        <xs:element name="b" type="xs:string"/>
        <xs:element name="a" type="KInt" minOccurs="0" maxOccurs="2"/>
      </xs:sequence>
      <xs:attribute name="event_id" type="xs:long" use="required"/>
    </xs:complexType>
  </xs:element>
</xs:schema>"""


@register("record_dup_siblings_events", """
  WITH ev AS (
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events),
  arr AS (
    SELECT event_id,
           CASE WHEN event_id % 5 = 0 THEN CAST([] AS VARCHAR[])
                WHEN event_id % 7 = 0 THEN [f, s, '8', '9']
                ELSE [f, s] END AS items
      FROM (SELECT event_id,
              CASE WHEN event_id % 11 = 0 THEN 'x'
                   ELSE CAST(k % 40 AS VARCHAR) END AS f,
              CASE WHEN event_id % 3 = 0
                   THEN CAST(k % 40 + 60 AS VARCHAR)
                   ELSE '7' END AS s
            FROM ev))
  SELECT CAST(event_id AS VARCHAR) AS row_key,
         'facet:minLength:a' AS constraint,
         '[' || COALESCE(array_to_string(items, ', '), '') || ']'
           AS value
    FROM arr WHERE len(items) < 1
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'facet:maxLength:a',
         '[' || array_to_string(items, ', ') || ']'
    FROM arr WHERE len(items) > 3
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'facet:item:decode:a',
         '[' || array_to_string(
             list_transform(items, x -> '"' || x || '"'), ',') || ']'
    FROM arr
   WHERE len([x FOR x IN items IF TRY_CAST(x AS INTEGER) IS NULL]) > 0
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'facet:item:maxInclusive:a',
         '[' || array_to_string(
             list_transform(items, x -> '"' || x || '"'), ',') || ']'
    FROM arr
   WHERE len([x FOR x IN items IF TRY_CAST(x AS INTEGER) > 50]) > 0
""")
def record_dup_siblings_events(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Same-named element SIBLINGS in the record engine: the two 'a'
    particles merge into ONE repeated field with SUMMED occurs bounds
    (array length in [1, 3]) — the XSD Element Declarations Consistent
    constraint forces one type per name in a content model, and the
    reference's converters merge same-named siblings into a list.
    Item facets (int decode + maxInclusive 50) run per element via
    Spark's higher-order functions — row-local, zero shuffles at any
    scale."""
    from .runner import validate
    from .sources.xsd_import import spec_from_xsd
    df = _load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    first = F.when(F.col("event_id") % 11 == 0, F.lit("x")) \
        .otherwise((k % 40).cast("string"))
    second = F.when(F.col("event_id") % 3 == 0,
                    (k % 40 + 60).cast("string")).otherwise(F.lit("7"))
    ev = df.select(
        "event_id",
        F.when(F.col("event_id") % 5 == 0,
               F.array().cast("array<string>"))
         .when(F.col("event_id") % 7 == 0,
               F.array(first, second, F.lit("8"), F.lit("9")))
         .otherwise(F.array(first, second)).alias("a"),
        F.col("event_type").alias("b"))
    spec = spec_from_xsd(_DUPSIB_XSD, key_column="event_id")
    return validate(ev, spec).violations \
        .select("row_key", "constraint", "value")


_CHOICE_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="event">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="box" minOccurs="0">
          <xs:complexType>
            <xs:choice>
              <xs:element name="num">
                <xs:simpleType>
                  <xs:restriction base="xs:int">
                    <xs:maxInclusive value="75"/>
                  </xs:restriction>
                </xs:simpleType>
              </xs:element>
              <xs:element name="txt" type="xs:string"/>
            </xs:choice>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
      <xs:attribute name="event_id" type="xs:long" use="required"/>
    </xs:complexType>
  </xs:element>
</xs:schema>"""


@register("record_choice_events", """
  WITH ev AS (
    SELECT event_id,
           (event_id % 7 != 0) AS has_box,
           CASE WHEN event_id % 3 = 0
                THEN json_extract_string(props, '$.k') END AS num,
           CASE WHEN event_id % 3 = 1 OR event_id % 5 = 0
                THEN event_type END AS txt
      FROM events)
  SELECT CAST(event_id AS VARCHAR) AS row_key,
         'assert:choice_box' AS constraint, '' AS value
    FROM ev WHERE has_box AND
         ((num IS NOT NULL AND txt IS NOT NULL)
          OR (num IS NULL AND txt IS NULL))
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'facet:maxInclusive:box.num', num
    FROM ev WHERE has_box AND CAST(num AS INT) > 75
""")
def record_choice_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHOICE content inside a record type (round 7): the XSD importer
    maps each branch to a nullable struct field and compiles the
    choice occurs to a selection-count assert (exactly one branch
    non-null here) — no tags_column fallback, and branch element
    facets still apply to the selected value (reference decodes
    choice children uniformly, groups.py:953-1094). The whole check
    stays one shuffle-free codegen pass over the struct projection."""
    from .sources.xsd_import import spec_from_xsd
    df = _load(spark, sf_dir, "events")
    eid = F.col("event_id")
    nested = df.select(
        "event_id",
        F.when(eid % 7 != 0, F.struct(
            F.when(eid % 3 == 0,
                   F.get_json_object("props", "$.k")).alias("num"),
            F.when((eid % 3 == 1) | (eid % 5 == 0),
                   F.col("event_type")).alias("txt"),
        )).alias("box"))
    spec = spec_from_xsd(_CHOICE_XSD, key_column="event_id")
    return row_violations(nested, compile_plan(spec)) \
        .select("row_key", "constraint", "value")


_GROUP_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="event">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="grp" minOccurs="0">
          <xs:complexType>
            <xs:sequence minOccurs="1" maxOccurs="3">
              <xs:element name="a" type="xs:int"/>
              <xs:element name="b" type="xs:string" minOccurs="0"/>
            </xs:sequence>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
      <xs:attribute name="event_id" type="xs:long" use="required"/>
    </xs:complexType>
  </xs:element>
</xs:schema>"""


@register("record_group_events", """
  WITH ev AS (
    SELECT event_id,
           (event_id % 7 != 0) AS has_grp,
           CASE WHEN event_id % 5 = 0 THEN 0
                WHEN event_id % 13 = 0 THEN 4
                ELSE 1 + event_id % 3 END AS a_cnt
      FROM events),
  ev2 AS (
    SELECT *, CASE WHEN event_id % 11 = 0 THEN a_cnt + 1
                   ELSE least(a_cnt, 1) END AS b_cnt FROM ev)
  SELECT CAST(event_id AS VARCHAR) AS row_key,
         'facet:minLength:grp.a' AS constraint
    FROM ev2 WHERE has_grp AND a_cnt < 1
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'facet:maxLength:grp.a'
    FROM ev2 WHERE has_grp AND a_cnt > 3
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'facet:maxLength:grp.b'
    FROM ev2 WHERE has_grp AND b_cnt > 3
  UNION ALL
  SELECT CAST(event_id AS VARCHAR), 'assert:group_occurs_grp'
    FROM ev2 WHERE has_grp
     AND NOT (a_cnt >= 1 AND a_cnt <= 3 AND b_cnt <= 1 * a_cnt)
""")
def record_group_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPEATED sequence group inside a record type (round 7): each
    child maps to an array field whose size carries the per-name
    occurrence count; the exactly-once child 'a' is the repetition-
    count DRIVER and a group-coupling assert ties the optional child's
    count to it (b <= a) and bounds the repetitions (1..3) — the
    occurs algebra of groups.py projected onto counts, evaluated as
    one codegen expression with zero data movement."""
    from .sources.xsd_import import spec_from_xsd
    df = _load(spark, sf_dir, "events")
    eid = F.col("event_id")
    a_cnt = (F.when(eid % 5 == 0, F.lit(0))
              .when(eid % 13 == 0, F.lit(4))
              .otherwise((eid % 3 + 1)).cast("int"))
    b_cnt = (F.when(eid % 11 == 0, a_cnt + 1)
              .otherwise(F.least(a_cnt, F.lit(1)))).cast("int")
    base = F.array(*[F.lit(str(i)) for i in range(1, 6)])
    nested = df.select(
        "event_id",
        F.when(eid % 7 != 0, F.struct(
            F.slice(base, 1, a_cnt).alias("a"),
            F.slice(base, 1, b_cnt).alias("b"),
        )).alias("grp"))
    spec = spec_from_xsd(_GROUP_XSD, key_column="event_id")
    return row_violations(nested, compile_plan(spec)) \
        .select("row_key", "constraint")


_SCOPED_ID_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="event">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="item" minOccurs="0" maxOccurs="unbounded">
          <xs:complexType>
            <xs:sequence>
              <xs:element name="ref" type="xs:string" minOccurs="0"/>
            </xs:sequence>
            <xs:attribute name="id" type="xs:string" use="required"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
      <xs:attribute name="event_id" type="xs:long" use="required"/>
    </xs:complexType>
    <xs:key name="k_item">
      <xs:selector xpath="item"/><xs:field xpath="@id"/>
    </xs:key>
    <xs:keyref name="fk_item" refer="k_item">
      <xs:selector xpath="item"/><xs:field xpath="ref"/>
    </xs:keyref>
  </xs:element>
</xs:schema>"""


@register("record_keyref_events", """
  WITH ev AS (
    SELECT event_id,
           (event_id % 3 != 0) AS has_items,
           (event_id % 2 = 0) AS two,
           CASE WHEN event_id % 13 = 0 THEN 'd' || (event_id % 39)
                ELSE 'i' || event_id || 'a' END AS id1
      FROM events),
  ev2 AS (
    SELECT *, CASE WHEN event_id % 9 = 0 THEN 'zz' || event_id
                   ELSE id1 END AS ref1 FROM ev),
  ids AS (
    SELECT id1 AS id, event_id FROM ev2 WHERE has_items
    UNION ALL
    SELECT 'i' || event_id || 'b', event_id FROM ev2
     WHERE has_items AND two),
  dup AS (SELECT id FROM ids GROUP BY id HAVING count(*) > 1)
  SELECT CAST(event_id AS VARCHAR) AS row_key,
         'keyref:fk_item' AS constraint, ref1 AS value
    FROM ev2 WHERE has_items AND event_id % 9 = 0
  UNION ALL
  SELECT CAST(i.event_id AS VARCHAR), 'unique:k_item', i.id
    FROM ids i JOIN dup USING (id)
""")
def record_keyref_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity constraints whose fields live INSIDE a record array
    (round 7; reference: FieldValueSelector applied to repeated
    content, identities.py:461-544): xs:key over item/@id and
    xs:keyref over item/ref, selector-scoped to the repeated 'item'
    child. The node set explodes the array (narrow, zero extra
    shuffle beyond the identity aggregates themselves); the key stays
    a partial+final count aggregate, the keyref an anti-join against the
    distinct exploded key set — the same 100 TB shapes as row-level
    identities."""
    from .sources.xsd_import import spec_from_xsd
    from .runner import validate
    df = _load(spark, sf_dir, "events")
    eid = F.col("event_id")
    id1 = F.when(eid % 13 == 0,
                 F.concat(F.lit("d"), (eid % 39).cast("string"))) \
           .otherwise(F.concat(F.lit("i"), eid.cast("string"),
                               F.lit("a")))
    ref1 = F.when(eid % 9 == 0,
                  F.concat(F.lit("zz"), eid.cast("string"))) \
            .otherwise(id1)
    id2 = F.concat(F.lit("i"), eid.cast("string"), F.lit("b"))
    el1 = F.struct(ref1.alias("ref"), id1.alias("id"))
    el2 = F.struct(F.lit(None).cast("string").alias("ref"),
                   id2.alias("id"))
    ev = df.select(
        "event_id",
        F.when(eid % 3 == 0,
               F.lit(None).cast("array<struct<ref string, id string>>"))
         .when(eid % 2 == 0, F.array(el1, el2))
         .otherwise(F.array(el1)).alias("item"))
    spec = spec_from_xsd(_SCOPED_ID_XSD, key_column="event_id")
    return validate(ev, spec, refs={"event": ev}).violations \
        .select("row_key", "constraint", "value")


@register("ann_lsh_recall", """
  SELECT 10 AS k, TRUE AS recall_ok
""")
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for multi-probe sign-LSH ANN: top-10 of the LSH path
    must recover >= 9 of the exact brute-force top-10 (recall@10 >= 0.9).
    Single-probe LSH has a recall cliff; multiprobe recovers it.
    multiprobe=4 because the synthetic embeddings are near-orthogonal
    unit vectors (measured mean~0) — neighbors share few sign bits, so
    the toy 6-plane table needs wide probing; production plane counts
    (16+) probe a tiny fraction."""
    from .operators.similarity import ann_topk_lsh, cosine_topk
    e = _load(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    brute = cosine_topk(e, "embedding", "vec_id", q, k=10).select("vec_id")
    approx = ann_topk_lsh(e, "embedding", "vec_id", q, k=10, n_planes=6,
                          multiprobe=4).select("vec_id")
    hits = brute.join(approx, on="vec_id", how="left_semi")
    return hits.agg(F.count(F.lit(1)).alias("_h")).select(
        F.lit(10).alias("k"), (F.col("_h") >= 9).alias("recall_ok"))


@register("ann_ivf_recall", """
  SELECT 10 AS k, TRUE AS recall_ok
""")
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for IVF ANN with k-means-refined centroids (2 Lloyd
    iterations) probing 4/16 cells: recall@10 >= 0.9 vs brute force."""
    from .operators.similarity import ann_topk_ivf, cosine_topk
    e = _load(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    brute = cosine_topk(e, "embedding", "vec_id", q, k=10).select("vec_id")
    approx = ann_topk_ivf(e, "embedding", "vec_id", q, k=10,
                          n_centroids=16, nprobe=4).select("vec_id")
    hits = brute.join(approx, on="vec_id", how="left_semi")
    return hits.agg(F.count(F.lit(1)).alias("_h")).select(
        F.lit(10).alias("k"), (F.col("_h") >= 9).alias("recall_ok"))


@register("ann_ivf_recall_256", """
  SELECT 10 AS k, TRUE AS recall_ok
""")
def ann_ivf_recall_256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for IVF at LARGE centroid count (256) through the
    broadcast-join assignment path (centroids as a broadcast DataFrame,
    per-row argmin via partial-agg max_by — plans/compiler has no
    unrolled 256-branch expression). recall@10 >= 0.9 vs brute force
    probing 64/256 cells."""
    from .operators.similarity import ann_topk_ivf, cosine_topk
    e = _load(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    brute = cosine_topk(e, "embedding", "vec_id", q, k=10).select("vec_id")
    approx = ann_topk_ivf(e, "embedding", "vec_id", q, k=10,
                          n_centroids=256, nprobe=64,
                          assign_method="join").select("vec_id")
    hits = brute.join(approx, on="vec_id", how="left_semi")
    return hits.agg(F.count(F.lit(1)).alias("_h")).select(
        F.lit(10).alias("k"), (F.col("_h") >= 9).alias("recall_ok"))


@register("near_dups_lsh_precision", """
  SELECT CAST(NULL AS VARCHAR) AS id_a, CAST(NULL AS VARCHAR) AS id_b,
         CAST(NULL AS DOUBLE) AS sim
   WHERE FALSE
""")
def near_dups_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-false-positive gate for the LSH-blocked near-dup path: every
    emitted pair must also appear in the exact all-pairs result with
    the same similarity (LSH trades recall, NEVER precision). Expected
    result: zero rows.

    The comparison set is the exact all-pairs cosines under the LSH
    path's OWN emission semantics (threshold on the ROUNDED sim): the
    brute operator thresholds the unrounded cosine (its oracle
    contract — see cosine_near_dup_pairs), so the gate widens the
    brute threshold by half an ulp of the rounding grid and re-applies
    the rounded threshold, which is exactly the post-round set. Without
    this, a pair whose exact cosine lies in [0.29995, 0.3) — emitted by
    LSH as sim=0.3, correctly absent from the brute result — would
    read as a false positive (two such pairs exist at sf0.1)."""
    from .operators.similarity import cosine_near_dup_pairs
    e = _load(spark, sf_dir, "embeddings")
    thr, decimals = 0.3, 4
    lsh = cosine_near_dup_pairs(e, "embedding", "vec_id", threshold=thr,
                                n_planes=4, brute_force=False) \
        .select(F.col("id_a").cast("string").alias("id_a"),
                F.col("id_b").cast("string").alias("id_b"), "sim")
    brute = cosine_near_dup_pairs(e, "embedding", "vec_id",
                                  threshold=thr - 0.5 * 10 ** -decimals,
                                  brute_force=True) \
        .where(F.col("sim") >= thr) \
        .select(F.col("id_a").cast("string").alias("id_a"),
                F.col("id_b").cast("string").alias("id_b"), "sim")
    return lsh.join(brute, on=["id_a", "id_b", "sim"], how="left_anti")


@register("union_member_facets_events", """
  WITH x AS (SELECT event_id, json_extract_string(props, '$.k') AS v
               FROM events)
  SELECT CAST(event_id AS VARCHAR) AS row_key, v AS value
    FROM x
   WHERE v IS NOT NULL
     AND NOT (TRY_CAST(v AS BIGINT) IS NOT NULL
              AND TRY_CAST(v AS BIGINT) >= 0 AND TRY_CAST(v AS BIGINT) <= 50)
     AND NOT regexp_matches(v, '^(?:[a-z]+)$')
""")
def union_member_facets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union decode WITH member facet re-application
    (simple_types.py:1180-1196): props.k must be a bigint in [0, 50] OR a
    lowercase word. Castability alone is NOT enough — 51..99 decode as
    bigint but fail the member's range facet, so they violate."""
    ev = _load(spark, sf_dir, "events")
    d = ev.select(F.col("event_id"),
                  F.get_json_object("props", "$.k").alias("k_val"))
    spec = TableSpec(
        name="events_k", key_column="event_id",
        columns=[ColumnSpec(
            "k_val", "string",
            union_members=[
                ColumnSpec("m_int", "bigint", min_inclusive=0,
                           max_inclusive=50),
                ColumnSpec("m_word", "string", pattern=["[a-z]+"]),
            ])],
    )
    return row_violations(d, compile_plan(spec)) \
        .select("row_key", "value")


@register("lexical_list_items_documents", """
  WITH lx AS (
    SELECT doc_id,
           CAST(n_chars AS VARCHAR) || ' ' || CAST(doc_id % 97 AS VARCHAR)
             || ' ' || (CASE WHEN doc_id % 11 = 0 THEN 'x' ELSE '7' END)
             AS vals
      FROM documents),
  sp AS (SELECT doc_id, vals, string_split(vals, ' ') AS items FROM lx)
  SELECT CAST(doc_id AS VARCHAR) AS row_key,
         'facet:item:decode:vals' AS constraint, vals AS value
    FROM sp WHERE len([1 for x in items if TRY_CAST(x AS INT) IS NULL]) > 0
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR), 'facet:item:maxInclusive:vals', vals
    FROM sp WHERE len([1 for x in items if TRY_CAST(x AS INT) > 400]) > 0
""")
def lexical_list_items_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XsdList LEXICAL decode (simple_types.py:991-1019): a space-
    separated string column is collapsed+split and every item must decode as
    int and satisfy item facets (here int in [0, 400]). Every 11th doc
    carries a non-numeric item (decode violation); docs with n_chars>400
    violate the item range."""
    d = _load(spark, sf_dir, "documents", fan=True)
    lx = d.select(
        F.col("doc_id"),
        F.concat_ws(" ", F.col("n_chars").cast("string"),
                    (F.col("doc_id") % 97).cast("string"),
                    F.when(F.col("doc_id") % 11 == 0, "x").otherwise("7"))
        .alias("vals"))
    spec = TableSpec(
        name="doc_lists", key_column="doc_id",
        columns=[ColumnSpec("vals", "string", lexical_list=True,
                            item=ColumnSpec("v", "int", min_inclusive=0,
                                            max_inclusive=400))],
    )
    return row_violations(lx, compile_plan(spec)) \
        .select("row_key", "constraint", "value")


@register("global_unique_across_increments", """
  WITH g AS (
    SELECT o_custkey, count(*) AS occurs FROM orders
     WHERE o_custkey IS NOT NULL GROUP BY o_custkey HAVING count(*) > 1),
  h0 AS (
    SELECT o_custkey FROM orders
     WHERE o_custkey IS NOT NULL AND o_orderkey % 2 = 0
     GROUP BY o_custkey HAVING count(*) > 1),
  h1 AS (
    SELECT o_custkey FROM orders
     WHERE o_custkey IS NOT NULL AND o_orderkey % 2 = 1
     GROUP BY o_custkey HAVING count(*) > 1),
  flagged AS (
    SELECT o.o_orderkey, g.occurs FROM orders o JOIN g USING (o_custkey)
     WHERE NOT (o.o_orderkey % 2 = 0 AND o.o_custkey IN (SELECT * FROM h0))
       AND NOT (o.o_orderkey % 2 = 1 AND o.o_custkey IN (SELECT * FROM h1)))
  SELECT CAST(o_orderkey AS VARCHAR) AS row_key, occurs FROM flagged
""")
def global_unique_across_increments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-increment identity scope (reference: deferred identity
    counter merge at scan end, schemas.py:1386-1405): rows whose
    o_custkey duplicates STRADDLE two increments (even/odd o_orderkey
    halves). Per-increment validation (run_resumable's scope) misses
    them; the terminal full-table pass (checkpoint.
    finalize_global_identities) catches exactly these rows."""
    df = _load(spark, sf_dir, "orders")
    u = UniqueSpec("custkey", ["o_custkey"])
    full = unique_violations(df, u, "o_orderkey")
    lo = unique_violations(df.where(F.col("o_orderkey") % 2 == 0),
                           u, "o_orderkey")
    hi = unique_violations(df.where(F.col("o_orderkey") % 2 == 1),
                           u, "o_orderkey")
    per_inc = lo.select("row_key").unionByName(hi.select("row_key"))
    return (full.join(per_inc, on="row_key", how="left_anti")
            .select("row_key", "occurs"))


@register("selector_unique_events", """
  WITH x AS (SELECT event_id, json_extract_string(props, '$.k') AS kv
               FROM events),
  d AS (SELECT kv, count(*) AS occurs FROM x
         WHERE kv IS NOT NULL GROUP BY kv HAVING count(*) > 1)
  SELECT CAST(x.event_id AS VARCHAR) AS row_key, d.occurs AS occurs,
         x.kv AS value
    FROM x JOIN d USING (kv)
""")
def selector_unique_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selector-addressed identity field (reference: restricted-XPath
    selectors, identities.py:28-120): uniqueness over the nested field
    'props_s/@k' of a struct column, resolved by the selector DSL to a
    Catalyst nested-field projection."""
    ev = _load(spark, sf_dir, "events").withColumn(
        "props_s", F.from_json("props", "k string"))
    v = unique_violations(ev, UniqueSpec("propk", ["props_s/@k"]),
                          "event_id")
    return v.select("row_key", "occurs", "value")


@register("deduplicate_documents_exact", """
  WITH fp AS (SELECT doc_id,
                     md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS f
                FROM documents),
  keeper AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f)
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id, d.lang AS lang
    FROM documents d JOIN keeper k USING (doc_id)
""")
def deduplicate_documents_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized exact dedup: survivors only, min-id representative
    (deterministic at any parallelism — never shuffle-order 'first').
    Dedup runs on the NUMERIC id (string-cast only for output) so the
    keeper is the numeric min, exactly like the oracle's min(doc_id) —
    with string ids '10' < '9' would pick a different keeper the moment
    the corpus gains a real duplicate group."""
    from .operators.dedup import deduplicate
    d = _load(spark, sf_dir, "documents", fan=True)
    return deduplicate(d, "text", "doc_id", method="exact") \
        .select(F.col("doc_id").cast("string").alias("doc_id"), "lang")


@register("duration_facet_documents", """
  WITH src AS (
    SELECT doc_id,
           (doc_id % 4)::INT AS m, (doc_id % 45)::INT AS d,
           'P' || (doc_id % 4) || 'M' || (doc_id % 45) || 'D' AS value
      FROM documents),
  refs AS (SELECT * FROM (VALUES (DATE '1696-09-01'), (DATE '1697-02-01'),
                                 (DATE '1903-03-01'), (DATE '1903-07-01'))
           AS t(r)),
  cmp AS (
    SELECT s.doc_id, s.value,
           bool_and(date_diff('day', refs.r, refs.r + INTERVAL (s.m) MONTH)
                    + s.d
                    < date_diff('day', refs.r, refs.r + INTERVAL (1) MONTH))
             AS lt_min,
           bool_and(date_diff('day', refs.r, refs.r + INTERVAL (s.m) MONTH)
                    + s.d
                    > date_diff('day', refs.r, refs.r + INTERVAL (2) MONTH))
             AS gt_max
      FROM src s CROSS JOIN refs GROUP BY s.doc_id, s.value)
  SELECT CAST(doc_id AS VARCHAR) AS row_key,
         'facet:minInclusive:dur' AS constraint, value
    FROM cmp WHERE lt_min
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR), 'facet:maxInclusive:dur', value
    FROM cmp WHERE gt_max
""")
def duration_facet_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered VALUE-SPACE facets on xs:duration (reference:
    facets.py:285-448 with constants decoded against the base type at
    facets.py:300-314): minInclusive P1M / maxInclusive P2M over a
    derived mixed month+day duration column, under the XSD
    four-reference-point partial order (functions/temporal_order.py).
    Incomparable values (P30D vs P1M) correctly pass BOTH facets — the
    oracle replicates the rule generically with DuckDB date arithmetic,
    not a case analysis."""
    d = _load(spark, sf_dir, "documents").withColumn(
        "dur", F.concat(F.lit("P"), (F.col("doc_id") % 4).cast("string"),
                        F.lit("M"), (F.col("doc_id") % 45).cast("string"),
                        F.lit("D")))
    spec = TableSpec(
        name="documents", key_column="doc_id",
        columns=[ColumnSpec("dur", "xsd:duration",
                            min_inclusive="P1M", max_inclusive="P2M")])
    return row_violations(d, compile_plan(spec)) \
        .select("row_key", "constraint", "value")


@register("gyear_facet_events", """
  WITH src AS (
    SELECT event_id, (1980 + event_id % 25)::INT AS y,
           CASE WHEN event_id % 5 = 0
                THEN CAST(1980 + event_id % 25 AS VARCHAR) || 'Z'
                ELSE CAST(1980 + event_id % 25 AS VARCHAR) END AS value
      FROM events)
  SELECT CAST(event_id AS VARCHAR) AS row_key,
         'facet:minInclusive:yr' AS constraint, value
    FROM src WHERE y < 1990
""")
def gyear_facet_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered value-space facet on xs:gYear with MIXED timezoned and
    naive values against a naive constant: the XSD +-14h partial order
    makes every sub-year difference here decidable, so the oracle
    reduces to y < 1990 — but the Spark side evaluates the full
    timeline-interval rule (functions/temporal_order.py), including the
    aware-vs-naive branch for the 'Z' rows."""
    ev = _load(spark, sf_dir, "events").withColumn(
        "yr", F.when(F.col("event_id") % 5 == 0,
                     F.concat((1980 + F.col("event_id") % 25).cast("string"),
                              F.lit("Z")))
               .otherwise((1980 + F.col("event_id") % 25).cast("string")))
    spec = TableSpec(
        name="events", key_column="event_id",
        columns=[ColumnSpec("yr", "xsd:gYear", min_inclusive="1990")])
    return row_violations(ev, compile_plan(spec)) \
        .select("row_key", "constraint", "value")


@register("dup_clusters_documents", """
  WITH RECURSIVE toks AS (
    SELECT doc_id, string_split(trim(regexp_replace(text,'\\s+',' ','g')), ' ') AS w
      FROM documents),
  sh AS (
    SELECT doc_id,
           list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
            for i in generate_series(1, greatest(len(w)-2, 0))]) AS s
      FROM toks),
  sig AS (
    SELECT doc_id,
           list_min([md5('0|' || x) for x in s]) AS h0,
           list_min([md5('1|' || x) for x in s]) AS h1,
           list_min([md5('2|' || x) for x in s]) AS h2,
           list_min([md5('3|' || x) for x in s]) AS h3
      FROM (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
            for i in generate_series(1, greatest(len(w)-2, 0))] AS s
              FROM toks) q),
  bands AS (
    SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS bucket FROM sig
    UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig),
  hot AS (SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) > 1),
  cand AS (
    SELECT DISTINCT CAST(a.doc_id AS VARCHAR) AS id_a,
                    CAST(b.doc_id AS VARCHAR) AS id_b
      FROM bands a JOIN hot USING (band, bucket)
      JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
     WHERE CAST(a.doc_id AS VARCHAR) < CAST(b.doc_id AS VARCHAR)),
  verified AS (
    SELECT p.id_a, p.id_b
      FROM cand p
      JOIN sh sa ON CAST(sa.doc_id AS VARCHAR) = p.id_a
      JOIN sh sb ON CAST(sb.doc_id AS VARCHAR) = p.id_b
     WHERE ROUND(len(list_intersect(sa.s, sb.s))::DOUBLE
                 / len(list_distinct(sa.s || sb.s)), 6) >= 0.5),
  edges AS (SELECT id_a AS a, id_b AS b FROM verified
            UNION SELECT id_b, id_a FROM verified),
  nodes AS (SELECT DISTINCT a AS node FROM edges),
  reach AS (
    SELECT node, node AS r FROM nodes
    UNION
    SELECT e.a AS node, reach.r FROM edges e JOIN reach ON reach.node = e.b)
  SELECT node AS member, min(r) AS cluster FROM reach GROUP BY node
""")
def dup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE transitive closure of the near-dup graph (LSH candidates
    verified at jaccard >= 0.5): (member, cluster) with cluster = min
    member id per connected component, via large-star/small-star edge
    rewriting (operators/dedup.dup_clusters). The oracle computes the
    same components with a recursive CTE — full pipeline parity from
    raw text to cluster labels."""
    from .operators.dedup import dup_clusters, lsh_bucket_pairs, ngram_jaccard
    d = _load(spark, sf_dir, "documents", fan=True) \
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    cand = lsh_bucket_pairs(d, "text", "doc_id", n_hashes=4, band_size=2)
    verified = ngram_jaccard(d, "text", "doc_id", cand, threshold=0.5) \
        .select("id_a", "id_b")
    return dup_clusters(verified)


@register("incremental_dedup_documents", """
  WITH fp AS (
    SELECT doc_id, lang,
           md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS f
      FROM documents),
  inc1 AS (SELECT * FROM fp WHERE doc_id % 2 = 0),
  inc2 AS (SELECT * FROM fp WHERE doc_id % 2 = 1),
  seen AS (SELECT DISTINCT f FROM inc1 WHERE f IS NOT NULL),
  keep2 AS (SELECT f, min(doc_id) AS doc_id FROM inc2
             WHERE f IS NOT NULL GROUP BY f)
  SELECT CAST(i.doc_id AS VARCHAR) AS doc_id, i.lang AS lang
    FROM inc2 i JOIN keep2 k ON i.doc_id = k.doc_id AND i.f = k.f
   WHERE i.f NOT IN (SELECT f FROM seen)
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR), lang FROM inc2 WHERE f IS NULL
""")
def incremental_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-increment exact dedup with a persistent fingerprint store
    (operators/dedup.incremental_deduplicate): increment 1 = even
    doc_ids, increment 2 = odd; returns increment-2 survivors — rows
    whose content was never seen in EITHER increment before them. The
    oracle replays both increments in SQL."""
    import shutil
    import tempfile

    from .operators.dedup import incremental_deduplicate
    d = _load(spark, sf_dir, "documents", fan=True)
    store = tempfile.mkdtemp(prefix="xmlschema_spark_fps_")
    try:
        store_path = f"{store}/fps"
        incremental_deduplicate(d.where(F.col("doc_id") % 2 == 0),
                                "text", "doc_id", store_path,
                                run_id="inc1")
        s2 = incremental_deduplicate(d.where(F.col("doc_id") % 2 == 1),
                                     "text", "doc_id", store_path,
                                     run_id="inc2")
        # the operator's survivor barrier is a DURABLE write under the
        # store (executor-loss-safe on a real cluster); this demo query
        # deletes its temp store below, so pin the small result in
        # memory before the files go away
        return (s2.select(F.col("doc_id").cast("string").alias("doc_id"),
                          "lang")
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(store, ignore_errors=True)


@register("token_stats_documents", """
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')),
                               ' ')) AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
           AS bpe_tokens
    FROM documents
   WHERE text IS NOT NULL
""")
def token_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways the pipeline needs them (graft brief):
    whitespace tokens and the BPE-ish sub-word count (letter runs +
    digit runs + single punctuation marks) — pure JVM regexp, oracle
    replicates the exact regex in DuckDB's RE2."""
    from .operators.text import bpe_ish_token_count, token_count
    d = _load(spark, sf_dir, "documents", fan=True)
    return (d.where(F.col("text").isNotNull())
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    token_count(F.col("text")).cast("bigint")
                    .alias("ws_tokens"),
                    bpe_ish_token_count(F.col("text")).cast("bigint")
                    .alias("bpe_tokens")))


@register("js_drift_events_halves", """
  WITH lo AS (SELECT CAST(GREATEST(LEAST(FLOOR(value/5.0),19),0) AS BIGINT) AS bin,
                     count(*)::DOUBLE AS c FROM events
               WHERE value IS NOT NULL AND event_id % 2 = 0 GROUP BY 1),
       hi AS (SELECT CAST(GREATEST(LEAST(FLOOR(value/5.0),19),0) AS BIGINT) AS bin,
                     count(*)::DOUBLE AS c FROM events
               WHERE value IS NOT NULL AND event_id % 2 = 1 GROUP BY 1),
       bins AS (SELECT range AS bin FROM range(0, 20)),
       p AS (SELECT b.bin, (COALESCE(lo.c,0)+0.5)/(SELECT sum(c)+10 FROM lo) AS p
               FROM bins b LEFT JOIN lo ON b.bin = lo.bin),
       q AS (SELECT b.bin, (COALESCE(hi.c,0)+0.5)/(SELECT sum(c)+10 FROM hi) AS q
               FROM bins b LEFT JOIN hi ON b.bin = hi.bin)
  SELECT 'value' AS col,
         ROUND(SUM(0.5 * p.p * LN(p.p / ((p.p + q.q)/2))
                 + 0.5 * q.q * LN(q.q / ((p.p + q.q)/2))), 6) AS js
    FROM p JOIN q USING (bin)
""")
def js_drift_events_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon drift between two event cohorts: symmetric,
    bounded by ln(2) — thresholds comparable across columns, unlike
    raw KL."""
    from .operators.drift import js_divergence
    ev = _load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b = F.greatest(F.least(F.floor(F.col("value") / 5.0), F.lit(19)), F.lit(0)) \
        .cast("bigint")
    lo = ev.where(F.col("event_id") % 2 == 0).select(b.alias("bin"))
    hi = ev.where(F.col("event_id") % 2 == 1).select(b.alias("bin"))
    return js_divergence(lo, hi, "bin", n_bins=20).select(
        F.lit("value").alias("col"), F.round("js", 6).alias("js"))


_SIMHASH64_HI = " + ".join(
    f"CASE WHEN 2*len([1 for v in dg if (v[{b // 4 + 1}] & {1 << (b % 4)}) <> 0]) > n"
    f" THEN {1 << (b % 32)}::BIGINT ELSE 0::BIGINT END"
    for b in range(32, 64))
_SIMHASH64_LO = " + ".join(
    f"CASE WHEN 2*len([1 for v in dg if (v[{b // 4 + 1}] & {1 << (b % 4)}) <> 0]) > n"
    f" THEN {1 << b}::BIGINT ELSE 0::BIGINT END"
    for b in range(32))


_SIMHASH64_ORACLE = f"""
  WITH t AS (
    SELECT doc_id, string_split(trim(regexp_replace(text,'\\s+',' ','g')), ' ') AS w
      FROM documents),
  d AS (
    SELECT doc_id,
           [[strpos('0123456789abcdef', substr(md5(x), p, 1)) - 1
             for p in generate_series(1, 16)] for x in w] AS dg,
           len(w) AS n
      FROM t)
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         ({_SIMHASH64_HI}) AS hi32, ({_SIMHASH64_LO}) AS lo32
    FROM d
"""


@register("simhash64_documents", _SIMHASH64_ORACLE)
def simhash64_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash as a (hi32, lo32) pair for parity with external
    64-bit systems — each half stays in positive-bigint range on any
    engine; full DuckDB value oracle over both halves. Same kernel as
    simhash64_fast_documents."""
    return simhash64_fast_documents(spark, sf_dir)


@register("simhash64_fast_documents", _SIMHASH64_ORACLE)
def simhash64_fast_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized 64-bit SimHash (operators/text.simhash64_fast):
    one mapInArrow pass with numpy bit votes instead of 64 Catalyst
    array-filter folds, at ~4.5x their throughput on sf0.1 (0.83s vs
    3.71s, warm local[8]) — the shape to ship at 10^9 documents, where
    per-row expression overhead dominates."""
    from .operators.text import simhash64_fast
    d = _load(spark, sf_dir, "documents", fan=True) \
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    return simhash64_fast(d, "text", "doc_id")


@register("hamming_near_dups_documents", f"""
  WITH t AS (
    SELECT doc_id, string_split(trim(regexp_replace(text,'\\s+',' ','g')), ' ') AS w
      FROM documents WHERE text IS NOT NULL),
  d AS (
    SELECT doc_id,
           [[strpos('0123456789abcdef', substr(md5(x), p, 1)) - 1
             for p in generate_series(1, 16)] for x in w] AS dg,
           len(w) AS n
      FROM t),
  h AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc,
           ({_SIMHASH64_HI}) AS hi, ({_SIMHASH64_LO}) AS lo
      FROM d)
  SELECT a.doc AS id_a, b.doc AS id_b,
         CAST(bit_count(xor(a.hi, b.hi))
              + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc < b.doc
   WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
""")
def hamming_near_dups_documents(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Banded-Hamming near-dup pairs over a full 64-bit hash — the
    IMAGE-DEDUP shape (input_hint's phash int64), exercised here on
    the 64-bit SimHash of documents.text so DuckDB can replay it. The
    engine blocks on 8x8-bit bands (pigeonhole-EXACT through Hamming
    distance 7, operators/dedup.hamming_near_dups) with one shuffle
    and capped buckets; the oracle is the brute-force all-pairs filter
    over the same hash, summing bit_count(xor) per 32-bit half (a
    combined signed 64-bit value would overflow DuckDB's checked
    BIGINT arithmetic at reassembly). The hash is simhash64_fast.

    The bucket cap (8192) is above the whole documents table at every
    scale factor the oracle runs (5000 rows at sf0.1, whose SimHash
    bands put up to 1338 docs in one bucket), so it never cuts a true
    pair there; it still bounds a bucket's candidate pairs on larger
    inputs."""
    from .operators.dedup import hamming_near_dups
    from .operators.text import simhash64_fast
    d = _load(spark, sf_dir, "documents", fan=True) \
        .where(F.col("text").isNotNull()) \
        .select(F.col("doc_id").cast("string").alias("doc"), "text")
    h = simhash64_fast(d, "text", "doc").select(
        "doc",
        F.shiftleft(F.col("hi32"), 32)
         .bitwiseOR(F.col("lo32")).alias("sh64"))
    return hamming_near_dups(h, "sh64", "doc", bands=8,
                             max_hamming=7, max_bucket=8192)


@register("ncname_lexical_documents", """
  WITH src AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN '9' || source
                WHEN doc_id % 7 = 0 THEN source || ':' || lang
                ELSE source END AS value
      FROM documents)
  SELECT CAST(doc_id AS VARCHAR) AS row_key,
         'facet:pattern:nm' AS constraint, value
    FROM src
   WHERE NOT regexp_matches(value,
         '^[A-Za-z_][A-Za-z_0-9.·\\-]*$')
""")
def ncname_lexical_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xs:NCName lexical validation (Name minus colon, via the XSD
    class-subtraction [\\i-[:]] translated to a Java character class):
    digit-led and colon-qualified derivatives violate. The oracle uses
    the equivalent ASCII regex (the fixture values are ASCII; the
    engine-side class also admits the spec's unicode ranges)."""
    d = _load(spark, sf_dir, "documents", fan=True).withColumn(
        "nm", F.when(F.col("doc_id") % 5 == 0,
                     F.concat(F.lit("9"), F.col("source")))
              .when(F.col("doc_id") % 7 == 0,
                    F.concat(F.col("source"), F.lit(":"), F.col("lang")))
              .otherwise(F.col("source")))
    spec = TableSpec(name="documents", key_column="doc_id",
                     columns=[ColumnSpec("nm", "xsd:NCName")])
    return row_violations(d, compile_plan(spec)) \
        .select("row_key", "constraint", "value")


# ---------------------------------------------------------------------------
# Canonical q-digest (operators/sketch.py): the package's one quantile
# sketch. The oracle replays the EXACT construction — leaf histogram +
# 12 unrolled compression levels as chained CTEs — so the digest itself
# is rows+schema+hash verified; quantile_sketch_rank_check gates the
# quantiles it reads against exact ranks.
# ---------------------------------------------------------------------------

_QD_LEVELS, _QD_K = 12, 64
_QD_LEAF_SQL = ("least(4095, greatest(0, "
                "CAST(round(l_extendedprice * 100) AS BIGINT) // 4096))")
# the Spark twin of _QD_LEAF_SQL (integer cents, $40.96 leaves)
_QD_LEAF = ("least(4095, greatest(0, "
            "cast(round(l_extendedprice * 100) as bigint) div 4096))")
# the rank gate's k: levels * floor(n/k) + 1 <= 1e-2 * n at every scale
# factor (12/1536 < 0.8 %)
_RANK_K = 1536


def _qdigest_cte_sql(leaf_sql: str = _QD_LEAF_SQL,
                     from_sql: str =
                     "lineitem WHERE l_extendedprice IS NOT NULL"
                     ) -> str:
    """Unroll the canonical q-digest compression as chained CTEs
    (DuckDB recursive CTEs disallow grouping in the recursive term;
    the level count is a fixed sketch parameter, so unrolling is
    exact)."""
    parts = [f"""
  leaves AS (
    SELECT {leaf_sql} AS leaf
      FROM {from_sql}),
  lev0 AS (
    SELECT {1 << _QD_LEVELS} + leaf AS node,
           CAST(COUNT(*) AS BIGINT) AS cnt
      FROM leaves WHERE leaf IS NOT NULL GROUP BY leaf),
  nt AS (
    SELECT GREATEST(1, CAST(SUM(cnt) AS BIGINT) // {_QD_K}) AS thr,
           CAST(SUM(cnt) AS BIGINT) AS n
      FROM lev0)"""]
    for lv in range(_QD_LEVELS):
        parts.append(f"""
  fam{lv} AS (
    SELECT node // 2 AS p, CAST(SUM(cnt) AS BIGINT) AS fam
      FROM lev{lv} GROUP BY node // 2),
  emit{lv} AS (
    SELECT {lv} AS level, v.node, v.cnt
      FROM lev{lv} v JOIN fam{lv} f ON v.node // 2 = f.p
     WHERE f.fam > (SELECT thr FROM nt)),
  lev{lv + 1} AS (
    SELECT p AS node, fam AS cnt FROM fam{lv}
     WHERE fam <= (SELECT thr FROM nt))""")
    emits = " UNION ALL ".join(
        [f"SELECT level, node, cnt FROM emit{lv}"
         for lv in range(_QD_LEVELS)]
        + [f"SELECT {_QD_LEVELS} AS level, node, cnt FROM lev{_QD_LEVELS}"])
    parts.append(f"\n  digest AS ({emits})")
    return "WITH" + ",".join(parts)


def _qdigest_lineitem_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketch import qdigest
    df = _load(spark, sf_dir, "lineitem")
    return qdigest(df.where(F.col("l_extendedprice").isNotNull()),
                   F.expr(_QD_LEAF), _QD_LEVELS, _QD_K)


@register("qdigest_lineitem",
          _qdigest_cte_sql() + "\n  SELECT level, node, cnt FROM digest")
def qdigest_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The digest itself, hash-compared node for node: l_extendedprice
    in integer cents, 4096 leaves of $40.96 (pure integer leaf mapping
    — no float-rounding drift between engines), k=64."""
    return _qdigest_lineitem_df(spark, sf_dir)


# ---------------------------------------------------------------------------
# Content-model validation (plans/content_model.py): the ModelVisitor
# analog — the particle tree compiles to ONE anchored regex over the
# row's tag sequence; the oracle rebuilds the identical framed string
# and applies the identical regex in DuckDB.
# ---------------------------------------------------------------------------

def _doc_shape_model():
    from .specs import ParticleSpec as P
    # sequence( choice(key|table|row|join|hash), any{3,} ): documents
    # must open with a "header" tag and carry at least 3 more children
    return P(kind="sequence", children=[
        P(kind="choice", children=[
            P(kind="element", name=n)
            for n in ("key", "table", "row", "join", "hash")]),
        P(kind="any", min_occurs=3, max_occurs=None)])


def _doc_shape_regex() -> str:
    from .plans.content_model import model_regex
    return model_regex(_doc_shape_model())


@register("content_model_documents", f"""
  WITH f AS (
    SELECT doc_id,
           array_to_string(list_transform(
             string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
             w -> w || ';'), '') AS framed
      FROM documents WHERE text IS NOT NULL)
  SELECT CAST(doc_id AS VARCHAR) AS row_key,
         'content:doc_shape:text' AS constraint,
         substr(framed, 1, 200) AS value
    FROM f
   WHERE NOT regexp_full_match(framed, '{_doc_shape_regex()}')
""")
def content_model_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-model check over the documents table: text as a LEXICAL
    tag sequence validated against sequence(choice(header-tags),
    any{{3,}}) — one shuffle-free codegen pass; the DuckDB oracle frames
    the tags the same way and applies the same regex
    (reference: ModelVisitor content validation, models.py:177-330)."""
    from .specs import ContentModelSpec
    d = _load(spark, sf_dir, "documents", fan=True)
    spec = TableSpec(
        name="documents", key_column="doc_id",
        content_models=[ContentModelSpec(
            name="doc_shape", column="text", model=_doc_shape_model(),
            lexical=True)])
    return row_violations(d, compile_plan(spec)) \
        .select("row_key", "constraint", "value")


def _doc_ns_model():
    """Round-5 content-model features in one model: an ABSTRACT
    substitution-group head (one member namespace-qualified), a
    namespace-LIST wildcard body (##local + 'ext'), and suffix
    openContent whose ##other wildcard — with no target namespace —
    admits any qualified trailing tags (reference: wildcards.py
    namespace vocabulary + XsdOpenContent, elements.py substitution
    maps)."""
    from .specs import OpenContentSpec, ParticleSpec as P
    model = P(kind="sequence", children=[
        P(kind="element", name="header", abstract=True,
          substitutes=["key", "table", "row", "hash", "join", "merge",
                       "scan", "filter", "column", "customer", "batch",
                       "the", "a", "ext:spark"]),
        P(kind="any", namespace=["ext", "##local"],
          min_occurs=1, max_occurs=None)])
    oc = OpenContentSpec(mode="suffix",
                         wildcard=P(kind="any", namespace="##other"))
    return model, oc


def _doc_ns_regex() -> str:
    from .plans.content_model import model_regex, _wc_norm
    model, oc = _doc_ns_model()
    return model_regex(model, target_ns=None,
                       suffix_wildcard=_wc_norm(oc.wildcard, None))


@register("content_model_wildcards_documents", f"""
  WITH f AS (
    SELECT doc_id,
           array_to_string(list_transform(
             string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
             w -> CASE WHEN w = 'spark' THEN 'ext:spark;'
                       WHEN w = 'query' THEN 'other:query;'
                       ELSE w || ';' END), '') AS framed
      FROM documents WHERE text IS NOT NULL)
  SELECT CAST(doc_id AS VARCHAR) AS row_key,
         'content:doc_ns:text' AS constraint,
         substr(framed, 1, 200) AS value
    FROM f
   WHERE NOT regexp_full_match(framed, '{_doc_ns_regex()}')
""")
def content_model_wildcards_documents(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Wildcard/substitution/openContent content model over documents:
    tokens are deterministically namespace-qualified ('spark' ->
    'ext:spark', 'query' -> 'other:query') identically in both engines,
    then the tag sequence must open with a substitution-group member of
    the abstract head, continue with ##local/'ext' tags, and may close
    with a qualified-tag suffix run (openContent mode='suffix'). The
    model compiles to ONE anchored regex (shuffle-free, RE2-safe — no
    lookahead since target_ns is None) that the DuckDB oracle replays
    verbatim (reference: wildcards.py:73-185, models.py:790-815)."""
    from .specs import ContentModelSpec
    model, oc = _doc_ns_model()
    d = _load(spark, sf_dir, "documents", fan=True)
    d = d.withColumn("text", F.array_join(F.transform(
        F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " "),
        lambda w: F.when(w == "spark", F.lit("ext:spark"))
                   .when(w == "query", F.lit("other:query"))
                   .otherwise(w)), " "))
    spec = TableSpec(
        name="documents", key_column="doc_id",
        content_models=[ContentModelSpec(
            name="doc_ns", column="text", model=model, lexical=True,
            target_ns=None, open_content=oc)])
    return row_violations(d, compile_plan(spec)) \
        .select("row_key", "constraint", "value")


# float-domain digest over events.value (double): fixed documented
# bounds [0, 512) — the synthetic table's value range is ~[0, 490];
# clamp policy folds any outlier into the edge leaves
_QD_F_LO, _QD_F_HI = 0.0, 512.0


def _events_float_leaf_sql() -> str:
    from .operators.sketch import float_leaf_sql
    return float_leaf_sql("value", _QD_F_LO, _QD_F_HI, _QD_LEVELS)


@register("qdigest_events_value",
          _qdigest_cte_sql(
              leaf_sql=_events_float_leaf_sql(),
              from_sql="events WHERE value IS NOT NULL")
          + "\n  SELECT level, node, cnt FROM digest")
def qdigest_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Float-domain q-digest (operators/sketch.float_leaf): events.value
    (double) maps into 4096 leaves through the documented pure-IEEE
    rounding contract — (v - lo) * 2^levels / (hi - lo), NaN dropped,
    clamp at the edges — which the oracle replays bit-for-bit via
    float_leaf_sql, so the digest hash-matches node for node like the
    integer-cents variant (round-4 VERDICT item 5)."""
    from .operators.sketch import float_leaf, qdigest
    df = _load(spark, sf_dir, "events")
    leaf = float_leaf(F.col("value"), _QD_F_LO, _QD_F_HI, _QD_LEVELS)
    return qdigest(df.where(F.col("value").isNotNull()),
                   leaf, _QD_LEVELS, _QD_K)


@register("qdigest_quantiles_lineitem", _qdigest_cte_sql() + f"""
  , ordered AS (
    SELECT level, node, cnt,
           (node + 1 - (CAST(1 AS BIGINT) << ({_QD_LEVELS} - level)))
             * (CAST(1 AS BIGINT) << level) - 1 AS hi
      FROM digest),
  cum AS (
    SELECT hi, level,
           SUM(cnt) OVER (ORDER BY hi, level, node
                          ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum
      FROM ordered),
  qs AS (SELECT UNNEST([0.01, 0.25, 0.5, 0.75, 0.99]) AS quantile)
  SELECT CAST(q.quantile AS DOUBLE) AS quantile,
         CAST(MIN(c.hi) AS BIGINT) AS leaf_hi,
         (SELECT n FROM nt) AS n
    FROM qs q JOIN cum c
      ON c.cum >= CAST(CEIL(q.quantile * (SELECT n FROM nt)) AS BIGINT)
   GROUP BY q.quantile
""")
def qdigest_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles read off the digest (right-edge leaf of the first node
    reaching ceil(q*n) cumulative mass) — integer outputs, exact hash
    parity; the rank guarantee itself is asserted in
    tests/test_sketch.py."""
    from .operators.sketch import qdigest_quantiles
    digest = _qdigest_lineitem_df(spark, sf_dir)
    return qdigest_quantiles(digest, [0.01, 0.25, 0.5, 0.75, 0.99],
                             _QD_LEVELS)


def _leaf_ranks(df: DataFrame, leaves: dict[str, Column],
                quantiles: list[float]
                ) -> list[tuple[str, float, float, float]]:
    """Read each quantile off a k=_RANK_K q-digest of each column's
    integer leaf (NULL values dropped), then the exact rank of the
    reported leaf_hi in ONE conditional-sum pass over `df`:
    lo = frac(leaf < leaf_hi), hi = frac(leaf <= leaf_hi). The digest
    guarantees lo - (levels*floor(n/k) + 1)/n <= q <= hi; ranks are
    taken in leaf space, so a leaf's value width adds no error. Returns
    (col, quantile, lo, hi) rows."""
    from .operators.sketch import qdigest, qdigest_quantiles
    leaves = {c: F.when(F.col(c).isNotNull(), leaf)
              for c, leaf in leaves.items()}
    reads = [(c, r.quantile, r.leaf_hi)
             for c, leaf in leaves.items()
             for r in sorted(qdigest_quantiles(
                 qdigest(df, leaf, _QD_LEVELS, _RANK_K), quantiles,
                 _QD_LEVELS).collect())]
    aggs = []
    for i, (c, _, hi) in enumerate(reads):
        leaf = leaves[c]
        aggs.append((F.sum(F.when(leaf < hi, 1).otherwise(0))
                     / F.count(leaf)).alias(f"lo{i}"))
        aggs.append((F.sum(F.when(leaf <= hi, 1).otherwise(0))
                     / F.count(leaf)).alias(f"hi{i}"))
    ranks = df.agg(*aggs).collect()[0]
    return [(c, q, ranks[f"lo{i}"], ranks[f"hi{i}"])
            for i, (c, q, _) in enumerate(reads)]


@register("quantile_sketch_rank_check", """
  WITH qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS quantile)
  SELECT 'l_extendedprice' AS col, CAST(quantile AS DOUBLE) AS quantile,
         TRUE AS rank_ok FROM qs
  UNION ALL
  SELECT 'l_quantity', CAST(quantile AS DOUBLE), TRUE FROM qs
""")
def quantile_sketch_rank_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-guarantee gate: each quantile read off a q-digest (k=1536,
    rank error <= 0.8 %) must sit within 1e-2 of its target's exact
    leaf-space rank. l_extendedprice uses the integer-cents leaf of
    qdigest_lineitem; l_quantity (whole numbers 1-50) is its own leaf."""
    df = _load(spark, sf_dir, "lineitem")
    rows = _leaf_ranks(
        df, {"l_extendedprice": F.expr(_QD_LEAF),
             "l_quantity": F.expr("least(4095, greatest(0, "
                                  "cast(l_quantity as bigint)))")},
        [0.25, 0.5, 0.75, 0.95])
    return spark.createDataFrame(
        [(c, q, lo - 1e-2 <= q <= hi + 1e-2) for c, q, lo, hi in rows],
        "col string, quantile double, rank_ok boolean")


# ---------------------------------------------------------------------------
# Converter layout sinks (functions/converters.py): Parker and BadgerFish
# decode conventions over the documents table, exercised through the full
# decode_table path (defaults + normalizations + converter + to_json).
# ---------------------------------------------------------------------------

@register("decode_parker_documents", """
  SELECT CAST(doc_id AS VARCHAR) AS row_key,
         '{"lang":"' || lang || '","n_chars":' || n_chars || '}' AS doc
    FROM documents
""")
def decode_parker_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parker convention (reference converters/parker.py:22-41:
    attr_prefix=None — attributes DROPPED): doc_id is declared an
    attribute column and is omitted from the decoded document (it
    remains the row key)."""
    from .functions.converters import decode_table, parker_converter
    d = _load(spark, sf_dir, "documents", fan=True)
    spec = TableSpec(name="documents", key_column="doc_id",
                     columns=[ColumnSpec("doc_id", "bigint"),
                              ColumnSpec("lang", "string"),
                              ColumnSpec("n_chars", "bigint")])
    return decode_table(d, spec, parker_converter(["doc_id"]))


@register("decode_badgerfish_documents", """
  SELECT CAST(doc_id AS VARCHAR) AS row_key,
         '{"@lang":"' || lang || '","$":"' || source || '","n_chars":'
           || n_chars || '}' AS doc
    FROM documents
""")
def decode_badgerfish_documents(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """BadgerFish convention (reference converters/badgerfish.py:24-68:
    attr_prefix='@', text_key='$'): lang as '@lang' attribute, source
    as the '$' text key, n_chars as a plain element."""
    from .functions.converters import badgerfish_converter, decode_table
    d = _load(spark, sf_dir, "documents", fan=True)
    spec = TableSpec(name="documents", key_column="doc_id",
                     columns=[ColumnSpec("lang", "string"),
                              ColumnSpec("source", "string"),
                              ColumnSpec("n_chars", "bigint")])
    return decode_table(d, spec, badgerfish_converter(["lang"],
                                                      text_col="source"))


@register("decode_columnar_documents", """
  SELECT CAST(doc_id AS VARCHAR) AS row_key,
         '{"documents":{"documents_lang":"' || lang || '","doc_id":'
           || doc_id || ',"n_chars":' || n_chars || '}}' AS doc
    FROM documents
""")
def decode_columnar_documents(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Columnar convention (reference converters/columnar.py:23-174):
    attributes flattened with the parent element's name — lang as
    'documents_lang' (attr_prefix='_'), attributes first, children
    (doc_id, n_chars) after, the whole row wrapped {documents: {...}}
    at level 0."""
    from .functions.converters import columnar_converter, decode_table
    d = _load(spark, sf_dir, "documents", fan=True)
    spec = TableSpec(name="documents", key_column="doc_id",
                     columns=[ColumnSpec("doc_id", "bigint"),
                              ColumnSpec("lang", "string"),
                              ColumnSpec("n_chars", "bigint")])
    return decode_table(d, spec, columnar_converter(["lang"],
                                                    attr_prefix="_"))


@register("decode_unordered_documents", """
  SELECT CAST(doc_id AS VARCHAR) AS row_key,
         '{"doc_id":' || doc_id || ',"lang":"' || lang || '","n_chars":'
           || n_chars || ',"source":"' || source || '"}' AS doc
    FROM documents
""")
def decode_unordered_documents(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Unordered convention (reference converters/unordered.py:21-34):
    sibling order comes from the MODEL, not input order — the caller
    hands columns in scrambled insertion order (n_chars, lang, doc_id,
    source) and the output is still in the spec's declared order, with
    the undeclared 'source' column trailing (wildcard content after
    modeled content)."""
    from .functions.converters import decode_table, unordered_converter
    d = _load(spark, sf_dir, "documents", fan=True)
    spec = TableSpec(name="documents", key_column="doc_id",
                     columns=[ColumnSpec("doc_id", "bigint"),
                              ColumnSpec("lang", "string"),
                              ColumnSpec("n_chars", "bigint")])
    return decode_table(d, spec, unordered_converter(),
                        names=["n_chars", "lang", "doc_id", "source"])


@register("dup_clusters_star_documents", ORACLES["dup_clusters_documents"])
def dup_clusters_star_documents(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """dup_clusters_documents under its second registered name: the
    same pipeline, operator (operators/dedup.dup_clusters) and oracle."""
    return dup_clusters_documents(spark, sf_dir)


@register("decode_abdera_documents", """
  SELECT CAST(doc_id AS VARCHAR) AS row_key,
         '{"attributes":{"lang":"' || lang || '"},"children":{"source":"'
           || source || '","n_chars":' || n_chars || '}}' AS doc
    FROM documents
""")
def decode_abdera_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abdera convention (reference converters/abdera.py:24-80):
    attributes under an 'attributes' dict, content under 'children'."""
    from .functions.converters import abdera_converter, decode_table
    d = _load(spark, sf_dir, "documents", fan=True)
    spec = TableSpec(name="documents", key_column="doc_id",
                     columns=[ColumnSpec("lang", "string"),
                              ColumnSpec("source", "string"),
                              ColumnSpec("n_chars", "bigint")])
    return decode_table(d, spec, abdera_converter(["lang"]))


@register("decode_jsonml_documents", """
  SELECT CAST(doc_id AS VARCHAR) AS row_key,
         '["documents",' || '{"lang":"' || lang || '"}'
           || ',["source",' || to_json(source) || ']'
           || ',["n_chars",' || to_json(n_chars) || ']]' AS doc
    FROM documents
""")
def decode_jsonml_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JsonML convention (reference converters/jsonml.py:24-90): the
    array form ["documents", {attrs}, ["col", value], ...] built as raw
    JSON text inside the projection."""
    from .functions.converters import decode_table, jsonml_converter
    d = _load(spark, sf_dir, "documents", fan=True)
    spec = TableSpec(name="documents", key_column="doc_id",
                     columns=[ColumnSpec("lang", "string"),
                              ColumnSpec("source", "string"),
                              ColumnSpec("n_chars", "bigint")])
    return decode_table(d, spec, jsonml_converter(["lang"]))


@register("xsd_double_lexical_events", """
  WITH src AS (
    SELECT event_id,
           CASE WHEN event_id % 11 = 0 THEN 'INF'
                WHEN event_id % 13 = 0 THEN 'NaN'
                WHEN event_id % 17 = 0 THEN '-INF'
                WHEN event_id % 19 = 0 THEN 'not-a-number'
                ELSE CAST(value AS VARCHAR) END AS v
      FROM events),
  viols AS (
    SELECT event_id, 'facet:decode:v' AS c FROM src
     WHERE v = 'not-a-number'
    UNION ALL
    SELECT event_id, 'facet:pattern:v' FROM src
     WHERE v = 'not-a-number'
    UNION ALL
    SELECT event_id, 'facet:maxInclusive:v' FROM src
     WHERE v = 'INF'
        OR (v NOT IN ('INF','-INF','NaN','not-a-number')
            AND TRY_CAST(v AS DOUBLE) > 500))
  SELECT CAST(event_id AS VARCHAR) AS row_key, c AS constraint
    FROM viols
""")
def xsd_double_lexical_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xsd:double decode over a string column containing the XSD
    special spellings (INF/-INF/NaN) plus garbage: INF violates the
    finite maxInclusive bound (it is ORDERED), NaN passes every ordered
    facet (UNORDERED — certain-violation-only rule), garbage fails both
    decode and the float lexical pattern. The oracle enumerates the
    same rule set in SQL."""
    d = _load(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_id") % 11 == 0, F.lit("INF"))
             .when(F.col("event_id") % 13 == 0, F.lit("NaN"))
             .when(F.col("event_id") % 17 == 0, F.lit("-INF"))
             .when(F.col("event_id") % 19 == 0, F.lit("not-a-number"))
             .otherwise(F.col("value").cast("string")))
    spec = TableSpec(name="events", key_column="event_id",
                     columns=[ColumnSpec("v", "xsd:double",
                                         max_inclusive=500)])
    return row_violations(d, compile_plan(spec)) \
        .select("row_key", "constraint")
