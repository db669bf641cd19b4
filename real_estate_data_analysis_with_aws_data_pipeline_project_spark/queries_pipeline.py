"""Pipeline-metric, source-roundtrip and REST-ingestion queries
(SURVEY.md §2.1, §4.3.1).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from .functions.scalar import hex_chunk_int_sql, micro6_sql, micro_units_sql
from .registry import register
from .session import local_frame
from .sources.catalog import load_table
from .sources.readers import read_binary_files, read_csv, read_json, read_orc
from .sources.rest import fetch_rest_source, normalize_census_records
from .sources.writers import write_csv, write_json, write_orc


@register(
    "pipeline_single_pass_metrics",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_raw,
           CAST(sum(CASE WHEN o_orderstatus IN ('O','F') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_status_kept,
           CAST(sum(CASE WHEN o_orderstatus IN ('O','F')
                          AND o_totalprice IS NOT NULL
                          AND o_custkey IS NOT NULL
                          AND o_orderdate IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_notnull_kept,
           CAST(sum(CASE WHEN o_orderstatus IN ('O','F')
                          AND o_totalprice IS NOT NULL
                          AND o_custkey IS NOT NULL
                          AND o_orderdate IS NOT NULL
                          AND c.c_custkey IS NOT NULL
                          AND c.c_acctbal > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           round(100.0 * sum(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
                 / count(*), 2) AS match_rate_pct
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def pipeline_single_pass_metrics(spark, sf_dir):
    """The reference's 8 interleaved count() actions
    (real_estate_etl_job.py:36-140, anti-pattern §4.3.1) as ONE
    conditional aggregation over a single scan + one broadcast join:
    every stage's cardinality in a single pass."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
    status_ok = F.col("o_orderstatus").isin("O", "F")
    notnull_ok = (
        status_ok
        & F.col("o_totalprice").isNotNull()
        & F.col("o_custkey").isNotNull()
        & F.col("o_orderdate").isNotNull()
    )
    covered_ok = notnull_ok & F.col("c_custkey").isNotNull() & (F.col("c_acctbal") > 0)
    return j.agg(
        F.count("*").alias("n_raw"),
        F.sum(status_ok.cast("int")).cast("bigint").alias("n_status_kept"),
        F.sum(notnull_ok.cast("int")).cast("bigint").alias("n_notnull_kept"),
        F.sum(covered_ok.cast("int")).cast("bigint").alias("n_covered"),
        F.round(
            100.0 * F.sum(F.col("c_custkey").isNotNull().cast("int")) / F.count("*"),
            2,
        ).alias("match_rate_pct"),
    )


@register(
    "source_csv_roundtrip",
    """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def source_csv_roundtrip(spark, sf_dir):
    """S2/S6 CSV source+sink: write customer to headered CSV, read it
    back with an explicit schema (no inference), aggregate — the
    result must equal the same aggregate over the parquet original,
    proving the CSV path is lossless for this schema."""
    customer = load_table(spark, sf_dir, "customer")
    out = os.path.join(
        tempfile.gettempdir(), f"engine_csv_roundtrip_{os.path.basename(sf_dir)}"
    )
    write_csv(customer, out, header=True)
    back = read_csv(spark, out, schema=customer.schema, header=True)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "source_json_roundtrip",
    """
    SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations
    FROM nation GROUP BY n_regionkey
    """,
)
def source_json_roundtrip(spark, sf_dir):
    """S1/S7 JSON source+sink roundtrip on the nation dim."""
    nation = load_table(spark, sf_dir, "nation")
    out = os.path.join(
        tempfile.gettempdir(), f"engine_json_roundtrip_{os.path.basename(sf_dir)}"
    )
    write_json(nation, out)
    back = read_json(spark, out, schema=nation.schema)
    return back.groupBy("n_regionkey").agg(F.count("*").alias("n_nations"))


@register(
    "source_orc_roundtrip",
    """
    SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
           round(sum(s_acctbal), 2) AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
)
def source_orc_roundtrip(spark, sf_dir):
    """ORC source+sink roundtrip on the supplier dim: write ORC, read
    it back, aggregate — must equal the same aggregate over the parquet
    original (lossless columnar alternative; same pushdown/pruning
    behavior class as parquet)."""
    supplier = load_table(spark, sf_dir, "supplier")
    out = os.path.join(
        tempfile.gettempdir(), f"engine_orc_roundtrip_{os.path.basename(sf_dir)}"
    )
    write_orc(supplier, out)
    back = read_orc(spark, out)
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
    )


@register(
    "source_binaryfile_ingest",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(length(n_name)) AS BIGINT) AS total_bytes,
           CAST(count(DISTINCT n_name) AS BIGINT) AS n_distinct_contents
    FROM nation
    """,
)
def source_binaryfile_ingest(spark, sf_dir):
    """Opaque-blob ingestion: the nation names written as one small
    file each (the object-store layout multimodal payloads arrive in),
    read back through the binaryFile source, and summarized. The file
    fan-out is dimension-scale (25 files) — at 100 TB the same source
    lists millions of objects and parallelizes per file."""
    nation = load_table(spark, sf_dir, "nation")
    out = os.path.join(
        tempfile.gettempdir(),
        f"engine_binfiles_{os.path.basename(sf_dir)}",
    )
    os.makedirs(out, exist_ok=True)
    for row in nation.select("n_nationkey", "n_name").collect():  # 25 dim rows
        with open(os.path.join(out, f"n_{row['n_nationkey']:03d}.txt"), "wb") as f:
            f.write(str(row["n_name"]).encode())
    blobs = read_binary_files(spark, out, glob="*.txt")
    return blobs.agg(
        F.count("*").alias("n_files"),
        F.sum(F.length("content")).cast("bigint").alias("total_bytes"),
        F.countDistinct(F.col("content").cast("string")).alias(
            "n_distinct_contents"
        ),
    )


# The offline fake endpoint derives every field from the md5 of the key
# (sources/rest.fake_census_fetch), so the whole REST path — mapInPandas
# fan-out included — is ORACLE-CHECKABLE: this SQL recomputes the same
# 48-bit hash integer from the md5 hex and applies the same field
# derivations and normalization.
_REST_HEXSUM = hex_chunk_int_sql("hx", 12, fn="instr")

_REST_ORACLE = f"""
    WITH k AS (SELECT n_name AS key, md5(n_name) AS hx FROM nation),
    h AS (SELECT key, CAST({_REST_HEXSUM} AS BIGINT) AS h FROM k),
    rec AS (
        SELECT key,
               CASE WHEN h % 11 = 0 THEN -666666666
                    ELSE 30000 + h % 90000 END AS median_income,
               1000 + (h // 256) % 50000 AS population,
               (h // 65536) % 5000 AS college_educated,
               5000 + (h // 16777216) % 20000 AS edu_total,
               (h // 4294967296) % 2000 AS unemployed,
               2000 + (h // 1099511627776) % 30000 AS labor_force
        FROM h
    )
    SELECT key,
           CAST(CASE WHEN median_income <= -999999 THEN NULL
                     ELSE median_income END AS BIGINT) AS median_income,
           CAST(population AS BIGINT) AS population,
           round(100.0 * college_educated / edu_total, 1)
               AS college_educated_pct,
           round(100.0 * unemployed / labor_force, 1) AS unemployment_rate,
           'fake_census_v1' AS data_source
    FROM rec
"""


@register("rest_census_ingest", _REST_ORACLE)
def rest_census_ingest(spark, sf_dir):
    """S3 REST-API source: keys fan out over executor partitions
    (mapInPandas fetch loops), responses normalized sentinel→null with
    derived percentage metrics (CensusDataFetch.py semantics). Uses
    the deterministic offline fake endpoint — whose md5-derived fields
    the oracle recomputes in SQL, making the whole distributed-fetch
    path value-checked, not just rows-only; the fetch_fn is injectable
    for a real API (make_http_census_fetch)."""
    keys = (
        load_table(spark, sf_dir, "nation")
        .select(F.col("n_name").alias("key"))
        .repartition(4)
    )
    raw = fetch_rest_source(keys)
    return normalize_census_records(raw)


@register("source_python_datasource", _REST_ORACLE)
def source_python_datasource(spark, sf_dir):
    """Spark 4 Python Data Source API: the census ingestion packaged
    as a first-class ``spark.read.format("census_synth")`` source with
    explicit input partitions (DataSourceReader.partitions) — the
    parallelism is owned by the source, not a prior repartition. Same
    md5-derived records as the REST path, so the same SQL oracle
    value-checks the entire custom-source read."""
    from .sources.pydatasource import register_census_synth

    register_census_synth(spark)
    raw = (
        spark.read.format("census_synth")
        .option("sf_dir", sf_dir)
        .option("npartitions", 4)
        .load()
    )
    return normalize_census_records(raw)


@register(
    "source_schema_evolution",
    """
    SELECT CAST(2 * count(*) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_with_abbrev,
           CAST(count(DISTINCT substr(r_name, 1, 3)) AS BIGINT)
               AS n_distinct_abbrev
    FROM region
    """,
)
def source_schema_evolution(spark, sf_dir):
    """Schema evolution on read: an old parquet batch (2 columns) and
    a new batch with an added column land in one dataset;
    mergeSchema=true reconciles them, old rows surfacing NULL for the
    added column — the append-only schema-drift regime a long-lived
    100 TB table lives in. The aggregate proves both batches are read
    and the evolved column is populated exactly for the new batch."""
    region = load_table(spark, sf_dir, "region")
    base = os.path.join(
        tempfile.gettempdir(), f"engine_schema_evo_{os.path.basename(sf_dir)}"
    )
    region.select("r_regionkey", "r_name").write.mode("overwrite").parquet(
        os.path.join(base, "batch=1")
    )
    region.select(
        "r_regionkey",
        "r_name",
        F.substring("r_name", 1, 3).alias("r_abbrev"),
    ).write.mode("overwrite").parquet(os.path.join(base, "batch=2"))
    back = spark.read.option("mergeSchema", "true").parquet(base)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count("r_abbrev").alias("n_with_abbrev"),
        F.countDistinct("r_abbrev").alias("n_distinct_abbrev"),
    )


@register(
    "dq_expectation_suite",
    """
    WITH m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_key,
               CAST(sum(CASE WHEN o_totalprice >= 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_price_ok,
               CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1
                        ELSE 0 END) AS BIGINT) AS n_status_ok,
               CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cust_ok
        FROM orders
    )
    SELECT exp_name, observed, expected, passed FROM (
        SELECT 'orderkey_unique' AS exp_name,
               n_key AS observed, n_rows AS expected,
               n_key = n_rows AS passed FROM m
        UNION ALL
        SELECT 'totalprice_non_negative', n_price_ok, n_rows,
               n_price_ok = n_rows FROM m
        UNION ALL
        SELECT 'status_in_domain', n_status_ok, n_rows,
               n_status_ok = n_rows FROM m
        UNION ALL
        SELECT 'custkey_not_null', n_cust_ok, n_rows,
               n_cust_ok = n_rows FROM m
    ) e
    """,
)
def dq_expectation_suite(spark, sf_dir):
    """Declarative data-quality expectation suite (the
    Great-Expectations shape): key uniqueness, value domain, range and
    null-rate expectations all evaluated in ONE scan (conditional sums
    + one distinct count), reported as (expectation, observed,
    expected, passed) rows — the contract gate that runs before any
    downstream job consumes a table."""
    m = load_table(spark, sf_dir, "orders").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_key"),
        F.sum((F.col("o_totalprice") >= 0).cast("int"))
        .cast("bigint")
        .alias("n_price_ok"),
        F.sum(F.col("o_orderstatus").isin("O", "F", "P").cast("int"))
        .cast("bigint")
        .alias("n_status_ok"),
        F.sum(F.col("o_custkey").isNotNull().cast("int"))
        .cast("bigint")
        .alias("n_cust_ok"),
    )
    rows = [
        ("orderkey_unique", "n_key"),
        ("totalprice_non_negative", "n_price_ok"),
        ("status_in_domain", "n_status_ok"),
        ("custkey_not_null", "n_cust_ok"),
    ]
    checks = None
    for name, col in rows:
        row = m.select(
            F.lit(name).alias("exp_name"),
            F.col(col).alias("observed"),
            F.col("n_rows").alias("expected"),
            (F.col(col) == F.col("n_rows")).alias("passed"),
        )
        checks = row if checks is None else checks.unionByName(row)
    return checks


@register(
    "cdc_snapshot_diff",
    """
    WITH now AS (SELECT o_orderkey, o_totalprice FROM orders),
    prev AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 101 <> 0
    )
    SELECT
        CAST(sum(CASE WHEN p.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_added,
        CAST(sum(CASE WHEN n.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_deleted,
        CAST(sum(CASE WHEN p.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                       AND p.o_totalprice <> n.o_totalprice
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        CAST(sum(CASE WHEN p.o_totalprice = n.o_totalprice THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unchanged
    FROM now n FULL OUTER JOIN prev p ON p.o_orderkey = n.o_orderkey
    """,
)
def cdc_snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation (table diff): the current snapshot full-
    outer-joined with a previous one (simulated deterministically:
    every 97th key's price drifted, every 101st key absent) and
    classified into added / deleted / changed / unchanged — the
    validation step behind CDC replication and incremental-build
    correctness. One shuffle on the key; at 100 TB both sides prune to
    (key, row-hash) columns before the join."""
    now = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    prev = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 101 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 10.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("p_totalprice"),
        )
    )
    j = now.join(
        prev.withColumnRenamed("o_orderkey", "p_orderkey"),
        now.o_orderkey == F.col("p_orderkey"),
        "full_outer",
    )
    return j.agg(
        F.sum(F.col("p_orderkey").isNull().cast("int"))
        .cast("bigint")
        .alias("n_added"),
        F.sum(F.col("o_orderkey").isNull().cast("int"))
        .cast("bigint")
        .alias("n_deleted"),
        F.sum(
            (
                F.col("p_orderkey").isNotNull()
                & F.col("o_orderkey").isNotNull()
                & (F.col("p_totalprice") != F.col("o_totalprice"))
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_changed"),
        F.sum((F.col("p_totalprice") == F.col("o_totalprice")).cast("int"))
        .cast("bigint")
        .alias("n_unchanged"),
    )


# --- referential-integrity audit (round 5) ----------------------------------

_FK_EDGES = (
    # (label, child, child_key, parent, parent_key)
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
)

_FK_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{label}' AS fk,
           CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM {child} c
                 LEFT JOIN {parent} p ON p.{pkey} = c.{ckey}
                 WHERE p.{pkey} IS NULL) AS BIGINT) AS n_orphans
    """
    for label, child, ckey, parent, pkey in _FK_EDGES
)


@register("dq_referential_orphans", _FK_ORACLE)
def dq_referential_orphans(spark, sf_dir):
    """Referential-integrity audit across the star schema's FK edges:
    for each child→parent relationship, the child row count and the
    number of ORPHANS (child keys with no parent row) — the data-
    quality gate that catches broken ingestion ordering or partial
    loads before a join silently drops rows downstream.

    Scale (VERDICT r5 #6): ONE scan per child table, not two per edge.
    Each child row explodes into one (fk, key) pair per outgoing edge
    (lineitem: 3 pairs from its 3 FK columns, read in a single
    key-columns-only scan), partial-aggregated map-side into per-key
    multiplicities — so the only wide exchange moves distinct keys,
    not fact rows. Parent key sets (unique PKs, labeled by edge) join
    once on (fk, key); per-edge n_rows is the sum of multiplicities
    and n_orphans the sum over unmatched keys. NULL child keys form
    their own key group and never match a parent, preserving the
    left-anti orphan semantics of the per-edge formulation. At 100 TB
    this turns 4 left-anti joins re-scanning lineitem three times into
    one pruned scan per table and one key-sized shuffle."""
    from .sources.catalog import load_table

    edges_by_child: dict[str, list[tuple[str, str]]] = {}
    for label, child, ckey, _parent, _pkey in _FK_EDGES:
        edges_by_child.setdefault(child, []).append((label, ckey))

    pairs = None
    for child, edges in edges_by_child.items():
        c = load_table(spark, sf_dir, child)
        exploded = c.select(
            F.explode(
                F.array(
                    *(
                        F.struct(
                            F.lit(label).alias("fk"),
                            F.col(ckey).cast("long").alias("key"),
                        )
                        for label, ckey in edges
                    )
                )
            ).alias("e")
        ).select("e.fk", "e.key")
        pairs = exploded if pairs is None else pairs.unionByName(exploded)

    child_keys = pairs.groupBy("fk", "key").agg(F.count("*").alias("n"))

    parents = None
    for label, _child, _ckey, parent, pkey in _FK_EDGES:
        p = load_table(spark, sf_dir, parent).select(
            F.lit(label).alias("fk"),
            F.col(pkey).cast("long").alias("key"),
            F.lit(1).alias("matched"),
        )
        parents = p if parents is None else parents.unionByName(p)

    return (
        child_keys.join(parents, ["fk", "key"], "left")
        .groupBy("fk")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.sum(
                F.when(F.col("matched").isNull(), F.col("n")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("n_orphans"),
        )
    )


# --- blocked entity resolution (round 7, second batch) ----------------------
#
# Structured-record linkage over the parts catalog: the blocking-key
# join + fuzzy match + transitive merge shape every master-data /
# catalog-dedup pipeline runs. Blocks bound the quadratic pairwise
# step; components merge matches transitively; the canonical id is the
# min record key of each component.

_ER_LEV_MAX = 2

_ER_ORACLE = f"""
    WITH RECURSIVE r AS (
        SELECT p_partkey AS pk,
               split_part(p_name, ' ', 1) AS first_tok,
               string_split(p_name, ' ')[-1] AS block_tok,
               p_brand AS brand,
               p_type AS ptype
        FROM part
    ),
    m AS (
        SELECT a.pk AS u0, b.pk AS v0
        FROM r a JOIN r b
          ON a.block_tok = b.block_tok AND a.brand = b.brand
         AND a.ptype = b.ptype
         AND a.pk < b.pk
         AND levenshtein(a.first_tok, b.first_tok) <= {_ER_LEV_MAX}
    ),
    edges AS (
        SELECT u0 AS u, v0 AS v FROM m
        UNION ALL
        SELECT v0 AS u, u0 AS v FROM m
    ),
    nodes AS (SELECT DISTINCT u FROM edges),
    walk(u, lbl) AS (
        SELECT u, u FROM nodes
        UNION
        SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v
    ),
    comp AS (SELECT u, min(lbl) AS lbl FROM walk GROUP BY u),
    assigned AS (
        SELECT r.pk, CAST(coalesce(c.lbl, r.pk) AS BIGINT) AS entity_id
        FROM r LEFT JOIN comp c ON c.u = r.pk
    ),
    sizes AS (
        SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members
        FROM assigned GROUP BY entity_id
    )
    SELECT a.pk AS p_partkey, a.entity_id, s.n_members
    FROM assigned a JOIN sizes s USING (entity_id)
"""


def _er_parts(spark, sf_dir):
    """(pk, first_tok, block_tok, brand, ptype): the entity-resolution
    view of part, the first and last name tokens beside the blocking
    attributes."""
    return load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"),
        F.substring_index("p_name", " ", 1).alias("first_tok"),
        F.substring_index("p_name", " ", -1).alias("block_tok"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("ptype"),
    )


def _er_blocked_pairs(r):
    """(u, v) matched pairs u < v of ``r`` (an ``_er_parts`` relation):
    same (block_tok, brand, ptype) block and first-token Levenshtein
    distance at most _ER_LEV_MAX — pairwise work only inside blocks."""
    a, b = r.alias("a"), r.alias("b")
    return a.join(
        b,
        (F.col("a.block_tok") == F.col("b.block_tok"))
        & (F.col("a.brand") == F.col("b.brand"))
        & (F.col("a.ptype") == F.col("b.ptype"))
        & (F.col("a.pk") < F.col("b.pk"))
        & (
            F.levenshtein(F.col("a.first_tok"), F.col("b.first_tok"))
            <= _ER_LEV_MAX
        ),
    ).select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))


@register("er_blocked_parts", _ER_ORACLE)
def er_blocked_parts(spark, sf_dir):
    """Blocked entity resolution over the parts catalog: records that
    share a blocking key (name's noun + brand + type) AND whose
    leading name token is within Levenshtein distance 2 are matched;
    matches merge transitively (min-label components, the loop shared
    with dedup_cluster_components); singletons keep their own key as
    entity_id. Emits the per-record entity assignment plus entity
    size — the master-data dedup output a catalog pipeline feeds back
    into its dimension tables.

    Scale: the pairwise Levenshtein runs ONLY inside
    (noun, brand, type) blocks — one hash shuffle on the compound
    blocking key, quadratic only within a block (the ER blocking
    contract; the test asserts block sizes stay far below the
    all-pairs count). Component propagation is the shared iterative
    join+groupBy; assignment + sizes are two more hash joins on
    entity_id."""
    from .queries_quality import min_label_components

    r = _er_parts(spark, sf_dir)
    m = _er_blocked_pairs(r)
    comp = min_label_components(m)
    assigned = r.join(
        comp.select(F.col("u").alias("pk"), "lbl"), "pk", "left"
    ).select(
        "pk",
        F.coalesce("lbl", F.col("pk")).cast("bigint").alias("entity_id"),
    )
    sizes = assigned.groupBy("entity_id").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    return assigned.join(sizes, "entity_id").select(
        F.col("pk").alias("p_partkey"), "entity_id", "n_members"
    )


# --- ER blocking-quality audit (round 11) ------------------------------------
#
# The two numbers that justify (or indict) a blocking scheme, from
# the record-linkage literature: PAIR COMPLETENESS (what fraction of
# true matches survive into some block — blocking recall) and the
# REDUCTION RATIO (what fraction of the n·(n−1)/2 all-pairs
# comparisons the blocks avoid). Ground truth here is the match rule
# WITHOUT the noun-token blocking key: same (brand, type) and leading
# name token within Levenshtein 2 — so completeness measures exactly
# what the block_tok condition throws away. The truth join is itself
# bounded by the coarser (brand, type) grouping (the audit is a
# blocked computation too — at corpus scale one runs it on a record
# sample, which estimates both ratios unbiasedly since they are
# pair-level means). All pair counts are exact int64 (n·(n−1)/2 is
# safe to n ≈ 4e9); the two ratios are ONE double division each,
# micro-quantized via floor(x·1e6 + 0.5), degenerate denominators
# (no true pairs / fewer than 2 records) guarded NULL.

_ER_BQ_ORACLE = f"""
    WITH r AS (
        SELECT p_partkey AS pk,
               split_part(p_name, ' ', 1) AS first_tok,
               string_split(p_name, ' ')[-1] AS block_tok,
               p_brand AS brand,
               p_type AS ptype
        FROM part
    ),
    blocks AS (
        SELECT block_tok, brand, ptype, CAST(count(*) AS BIGINT) AS sz
        FROM r GROUP BY 1, 2, 3
    ),
    bstats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(max(sz) AS BIGINT) AS max_block_size,
               CAST(sum((sz * (sz - 1)) // 2) AS BIGINT) AS cand_pairs
        FROM blocks
    ),
    tp AS (
        SELECT CAST(count(*) AS BIGINT) AS true_pairs,
               CAST(coalesce(sum(CASE WHEN a.block_tok = b.block_tok
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS kept_pairs
        FROM r a JOIN r b
          ON a.brand = b.brand AND a.ptype = b.ptype
         AND a.pk < b.pk
         AND levenshtein(a.first_tok, b.first_tok) <= {_ER_LEV_MAX}
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM r)
    SELECT n.n_records, bstats.n_blocks, bstats.max_block_size,
           bstats.cand_pairs,
           CAST((n.n_records * (n.n_records - 1)) // 2 AS BIGINT)
               AS total_pairs,
           tp.true_pairs, tp.kept_pairs,
           CASE WHEN tp.true_pairs > 0 THEN
               CAST(floor(CAST(tp.kept_pairs AS DOUBLE) / tp.true_pairs
                          * 1000000e0 + 0.5e0) AS BIGINT) / 1000000e0
           END AS pair_completeness,
           CASE WHEN n.n_records > 1 THEN
               CAST(floor((1e0 - CAST(bstats.cand_pairs AS DOUBLE)
                           / ((n.n_records * (n.n_records - 1)) // 2))
                          * 1000000e0 + 0.5e0) AS BIGINT) / 1000000e0
           END AS reduction_ratio
    FROM n CROSS JOIN bstats CROSS JOIN tp
"""


@register("er_blocking_quality", _ER_BQ_ORACLE)
def er_blocking_quality(spark, sf_dir):
    """Blocking-quality audit for er_blocked_parts: pair completeness
    (fraction of true (brand, type, Levenshtein-2) matches whose pair
    shares a noun-token block — blocking recall) and reduction ratio
    (fraction of all-pairs comparisons the blocking avoids), plus the
    block-size profile (block count, max block, scheduled candidate
    pairs). One row — the go/no-go evidence a linkage pipeline records
    before trusting its blocking key.

    Scale: candidate-pair and block stats are ONE count aggregate at
    the blocking-key grain (map-side combinable); the ground-truth
    pass is a self-join bounded by the coarser (brand, type) blocks —
    quadratic only within those groups, never all-pairs — and at
    corpus scale runs on a record sample (both ratios are pair-level
    means, so sampling estimates them unbiasedly; see section
    comment). Scalars cross-join as broadcasts. Pair counts exact
    int64; ratios micro-quantized (section comment)."""
    r = _er_parts(spark, sf_dir)
    blocks = r.groupBy("block_tok", "brand", "ptype").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    bstats = blocks.agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.max("sz").cast("bigint").alias("max_block_size"),
        F.sum(F.expr("(sz * (sz - 1)) div 2")).cast("bigint").alias(
            "cand_pairs"
        ),
    )
    a, b = r.alias("a"), r.alias("b")
    tp = a.join(
        b,
        (F.col("a.brand") == F.col("b.brand"))
        & (F.col("a.ptype") == F.col("b.ptype"))
        & (F.col("a.pk") < F.col("b.pk"))
        & (
            F.levenshtein(F.col("a.first_tok"), F.col("b.first_tok"))
            <= _ER_LEV_MAX
        ),
    ).agg(
        F.count("*").cast("bigint").alias("true_pairs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("a.block_tok") == F.col("b.block_tok"), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("kept_pairs"),
    )
    n = r.agg(F.count("*").cast("bigint").alias("n_records"))
    return (
        n.crossJoin(F.broadcast(bstats))
        .crossJoin(F.broadcast(tp))
        .select(
            "n_records",
            "n_blocks",
            "max_block_size",
            "cand_pairs",
            F.expr("(n_records * (n_records - 1)) div 2")
            .cast("bigint")
            .alias("total_pairs"),
            "true_pairs",
            "kept_pairs",
            F.when(
                F.col("true_pairs") > 0,
                F.expr(
                    micro_units_sql("CAST(kept_pairs AS DOUBLE) / true_pairs")
                    + " / 1000000e0"
                ),
            ).alias("pair_completeness"),
            F.when(
                F.col("n_records") > 1,
                F.expr(
                    micro_units_sql(
                        "(1e0 - CAST(cand_pairs AS DOUBLE)"
                        " / ((n_records * (n_records - 1)) div 2))"
                    )
                    + " / 1000000e0"
                ),
            ).alias("reduction_ratio"),
        )
    )


# --- incremental entity resolution (round 7, second batch) ------------------

# Deterministic "incoming batch" slice, the incremental-minhash
# convention: p_partkey % 5 == 2 plays the new records; the rest is
# the already-resolved store.
_ER_BATCH_MOD, _ER_BATCH_REM = 5, 2

_ER_INCR_ORACLE = f"""
    WITH RECURSIVE r AS (
        SELECT p_partkey AS pk,
               split_part(p_name, ' ', 1) AS first_tok,
               string_split(p_name, ' ')[-1] AS block_tok,
               p_brand AS brand,
               p_type AS ptype
        FROM part
    ),
    ex AS (SELECT * FROM r WHERE pk % {_ER_BATCH_MOD} <> {_ER_BATCH_REM}),
    batch AS (SELECT * FROM r WHERE pk % {_ER_BATCH_MOD} = {_ER_BATCH_REM}),
    m AS (
        SELECT a.pk AS u0, b.pk AS v0
        FROM ex a JOIN ex b
          ON a.block_tok = b.block_tok AND a.brand = b.brand
         AND a.ptype = b.ptype
         AND a.pk < b.pk
         AND levenshtein(a.first_tok, b.first_tok) <= {_ER_LEV_MAX}
    ),
    edges AS (
        SELECT u0 AS u, v0 AS v FROM m
        UNION ALL
        SELECT v0 AS u, u0 AS v FROM m
    ),
    nodes AS (SELECT DISTINCT u FROM edges),
    walk(u, lbl) AS (
        SELECT u, u FROM nodes
        UNION
        SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v
    ),
    comp AS (SELECT u, min(lbl) AS lbl FROM walk GROUP BY u),
    store AS (
        SELECT ex.pk, CAST(coalesce(c.lbl, ex.pk) AS BIGINT) AS entity_id,
               ex.block_tok, ex.brand, ex.ptype, ex.first_tok
        FROM ex LEFT JOIN comp c ON c.u = ex.pk
    ),
    probe AS (
        SELECT b.pk,
               CAST(count(s.pk) AS BIGINT) AS n_candidates,
               min(s.entity_id) AS matched_entity
        FROM batch b
        LEFT JOIN store s
          ON s.block_tok = b.block_tok AND s.brand = b.brand
         AND s.ptype = b.ptype
         AND levenshtein(s.first_tok, b.first_tok) <= {_ER_LEV_MAX}
        GROUP BY b.pk
    )
    SELECT pk AS p_partkey,
           n_candidates,
           matched_entity IS NOT NULL AS matched,
           CAST(coalesce(matched_entity, pk) AS BIGINT) AS assigned_entity
    FROM probe
"""


@register("er_incremental_parts", _ER_INCR_ORACLE)
def er_incremental_parts(spark, sf_dir):
    """Incremental entity resolution — the day-2 shape of
    er_blocked_parts (the incremental-minhash pattern at the ER
    surface): a fixed batch slice of records probes the STORED entity
    assignments only. Each new record joins existing records in its
    (noun, brand, type) block under the Levenshtein-2 match rule and
    adopts the smallest matched entity id, or founds a new entity
    under its own key. Batch-internal matches are deliberately
    deferred to the next full resolution pass — that is what keeps
    per-batch cost O(batch × block), independent of store size, the
    whole point of running ER incrementally.

    Scale: the store's components are computed once (amortized across
    batches; here inline so the query is self-contained); the probe is
    ONE blocked join of the batch against the store — no pairwise work
    outside blocks, no recompute of existing clusters."""
    from .queries_quality import min_label_components

    r = _er_parts(spark, sf_dir)
    is_batch = (F.col("pk") % _ER_BATCH_MOD) == _ER_BATCH_REM
    ex, batch = r.where(~is_batch), r.where(is_batch)
    m = _er_blocked_pairs(ex)
    comp = min_label_components(m)
    store = ex.join(
        comp.select(F.col("u").alias("pk"), "lbl"), "pk", "left"
    ).select(
        F.col("pk").alias("s_pk"),
        F.coalesce("lbl", F.col("pk")).cast("bigint").alias("entity_id"),
        F.col("block_tok").alias("s_block"),
        F.col("brand").alias("s_brand"),
        F.col("ptype").alias("s_ptype"),
        F.col("first_tok").alias("s_first"),
    )
    probe = (
        batch.join(
            store,
            (F.col("s_block") == F.col("block_tok"))
            & (F.col("s_brand") == F.col("brand"))
            & (F.col("s_ptype") == F.col("ptype"))
            & (
                F.levenshtein(F.col("s_first"), F.col("first_tok"))
                <= _ER_LEV_MAX
            ),
            "left",
        )
        .groupBy("pk")
        .agg(
            F.count("s_pk").cast("bigint").alias("n_candidates"),
            F.min("entity_id").alias("matched_entity"),
        )
    )
    return probe.select(
        F.col("pk").alias("p_partkey"),
        "n_candidates",
        F.col("matched_entity").isNotNull().alias("matched"),
        F.coalesce("matched_entity", F.col("pk"))
        .cast("bigint")
        .alias("assigned_entity"),
    )


# --- schema-drift audit (round 7, second batch) -----------------------------


def _contract_values_sql() -> str:
    from .sources.catalog import SCHEMA_CONTRACT

    rows = [
        f"('{t}', '{c}', '{ty}')"
        for t, cols in SCHEMA_CONTRACT.items()
        for c, ty in cols
    ]
    return ",\n               ".join(rows)


_DRIFT_ORACLE = f"""
    WITH contract(table_name, column_name, expected_type) AS (
        VALUES {_contract_values_sql()}
    ),
    actual AS (
        SELECT table_name, column_name,
               CASE WHEN data_type = 'BIGINT' THEN 'bigint'
                    WHEN data_type = 'INTEGER' THEN 'int'
                    WHEN data_type = 'DOUBLE' THEN 'double'
                    WHEN data_type = 'FLOAT' THEN 'float'
                    WHEN data_type = 'VARCHAR' THEN 'string'
                    WHEN data_type LIKE 'TIMESTAMP%' THEN 'timestamp'
                    WHEN data_type = 'DATE' THEN 'timestamp'
                    WHEN data_type = 'FLOAT[]' THEN 'array<float>'
                    ELSE lower(data_type) END AS actual_type
        FROM information_schema.columns
        WHERE table_name IN (SELECT DISTINCT table_name FROM contract)
    )
    SELECT coalesce(c.table_name, a.table_name) AS table_name,
           coalesce(c.column_name, a.column_name) AS column_name,
           c.expected_type, a.actual_type,
           CASE WHEN a.column_name IS NULL THEN 'missing'
                WHEN c.column_name IS NULL THEN 'extra'
                WHEN c.expected_type = a.actual_type THEN 'ok'
                ELSE 'type_drift' END AS status
    FROM contract c
    FULL OUTER JOIN actual a
      ON a.table_name = c.table_name AND a.column_name = c.column_name
"""


@register("dq_schema_drift", _DRIFT_ORACLE)
def dq_schema_drift(spark, sf_dir):
    """Schema-drift audit: every live (table, column, type) in the
    catalog compared against the REGISTERED contract
    (sources/catalog.SCHEMA_CONTRACT, the v2 draft) in a canonical
    type vocabulary — per column: ok, type_drift (registered float vs
    live double on events.value), missing (the planned
    events.schema_version not yet in data), or extra (events.props
    never registered). The per-ingestion-batch gate that catches a
    producer silently changing a feed's schema before queries break
    downstream; the v2-draft contract exercises all four statuses on
    live data.

    Scale: pure metadata — parquet footers on the engine side, the
    information schema on the oracle side; no data is scanned. The
    same audit runs per arriving batch/partition at any corpus
    size."""
    from .sources.catalog import SCHEMA_CONTRACT, canonical_spark_type

    actual_rows = []
    for t in SCHEMA_CONTRACT:
        for f in load_table(spark, sf_dir, t).schema.fields:
            actual_rows.append((t, f.name, canonical_spark_type(f.dataType)))
    actual = local_frame(
        spark,
        actual_rows, "table_name string, column_name string, actual_type string"
    )
    contract_rows = [
        (t, c, ty) for t, cols in SCHEMA_CONTRACT.items() for c, ty in cols
    ]
    contract = local_frame(
        spark,
        contract_rows,
        "table_name string, column_name string, expected_type string",
    )
    j = contract.alias("c").join(
        actual.alias("a"),
        (F.col("a.table_name") == F.col("c.table_name"))
        & (F.col("a.column_name") == F.col("c.column_name")),
        "full",
    )
    status = (
        F.when(F.col("a.column_name").isNull(), "missing")
        .when(F.col("c.column_name").isNull(), "extra")
        .when(F.col("c.expected_type") == F.col("a.actual_type"), "ok")
        .otherwise("type_drift")
    )
    return j.select(
        F.coalesce(F.col("c.table_name"), F.col("a.table_name")).alias(
            "table_name"
        ),
        F.coalesce(F.col("c.column_name"), F.col("a.column_name")).alias(
            "column_name"
        ),
        F.col("c.expected_type").alias("expected_type"),
        F.col("a.actual_type").alias("actual_type"),
        status.alias("status"),
    )


# --- referential-integrity + key-uniqueness audits (round 8) ----------------

_RI_RELATIONS = [
    # (name, child table, child key, parent table, parent key)
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]

_RI_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{name}' AS relation,
           CAST(count(*) AS BIGINT) AS n_child_rows,
           CAST(sum(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphans,
           round(CAST(sum(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS orphan_rate
    FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
      ON c.{ck} = p.{pk}
    """
    for name, child, ck, parent, pk in _RI_RELATIONS
)


@register("dq_referential_integrity", _RI_ORACLE)
def dq_referential_integrity(spark, sf_dir):
    """Referential-integrity audit over the whole star schema: for
    every foreign-key relation, the child row count, the orphan count
    (child keys with no parent), and the orphan rate — the first
    data-quality gate after any ingest, and the one that catches
    partial loads before they silently skew every downstream join.

    Scale: each relation is one LEFT join against the DISTINCT parent
    keys (dimension-sized for nation/region/customer/part/supplier —
    Catalyst broadcasts them; the orders side uses the normal shuffle
    join) folded into counts — no row-level output, only the
    7-relation report."""
    out = None
    for name, child, ck, parent, pk in _RI_RELATIONS:
        c = load_table(spark, sf_dir, child).select(F.col(ck).alias("_ck"))
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("_pk"))
            .distinct()
        )
        rel = (
            c.join(p, F.col("_ck") == F.col("_pk"), "left")
            .agg(
                F.count("*").cast("bigint").alias("n_child_rows"),
                F.sum(F.when(F.col("_pk").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            )
            .select(
                F.lit(name).alias("relation"),
                "n_child_rows",
                "n_orphans",
                F.round(
                    F.col("n_orphans").cast("double")
                    / F.col("n_child_rows"),
                    6,
                ).alias("orphan_rate"),
            )
        )
        out = rel if out is None else out.unionByName(rel)
    return out


_PK_TABLES = [
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
]

_PK_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{t}' AS table_name, '{k}' AS key_column,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT {k}) AS BIGINT) AS n_distinct,
           count(*) = count(DISTINCT {k}) AS is_unique
    FROM {t}
    """
    for t, k in _PK_TABLES
)


@register("dq_key_uniqueness", _PK_ORACLE)
def dq_key_uniqueness(spark, sf_dir):
    """Primary-key uniqueness audit across every keyed table: row
    count vs distinct key count and the is_unique verdict — the
    companion gate to the referential audit (an FK check against a
    parent with duplicated keys proves nothing).

    Scale: per-table map-side-combined distinct aggregation; the
    report is one row per table."""
    out = None
    for t, k in _PK_TABLES:
        rel = (
            load_table(spark, sf_dir, t)
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.countDistinct(F.col(k)).cast("bigint").alias("n_distinct"),
            )
            .select(
                F.lit(t).alias("table_name"),
                F.lit(k).alias("key_column"),
                "n_rows",
                "n_distinct",
                (F.col("n_rows") == F.col("n_distinct")).alias("is_unique"),
            )
        )
        out = rel if out is None else out.unionByName(rel)
    return out


# --- per-column completeness matrix (round 9) --------------------------------

# (column, is_string) pairs profiled on documents — the dataframe-
# profiling staple a DQ dashboard renders before any pipeline run.
_COMPLETENESS_COLS = [
    ("doc_id", False),
    ("text", True),
    ("lang", True),
    ("source", True),
    ("n_chars", False),
]

_COMPLETENESS_ORACLE = "\n    UNION ALL\n".join(
    f"""
    SELECT '{c}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_null,
           CAST({f"sum(CASE WHEN {c} = '' THEN 1 ELSE 0 END)" if is_str
                 else "0"} AS BIGINT) AS n_blank,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           round(CAST(count(*) - count({c}) AS DOUBLE) / count(*), 6)
               AS null_rate
    FROM documents"""
    for c, is_str in _COMPLETENESS_COLS
)


@register("dq_completeness_matrix", _COMPLETENESS_ORACLE)
def dq_completeness_matrix(spark, sf_dir):
    """Column-completeness profile of the documents table: one row per
    column with row/null/blank/exact-distinct counts and the null
    rate — the profile matrix a data-quality dashboard materializes
    before gating a pipeline run (the generalization of
    dq_key_uniqueness from key columns to EVERY column).

    Scale: ONE aggregation pass computes every per-column metric
    (count/null/blank partial-aggregate map-side; the multi-column
    exact count(DISTINCT) goes through Spark's expand — one shuffle
    whose volume is rows x profiled-columns; swap in
    approx_count_distinct at the 100 TB tier when exactness isn't
    required, as agg_approx_count_distinct demonstrates). The long
    shape comes from exploding the aggregated ONE-ROW struct array,
    never from per-column scans."""
    d = load_table(spark, sf_dir, "documents")
    aggs = []
    for c, is_str in _COMPLETENESS_COLS:
        aggs += [
            F.count("*").cast("bigint").alias(f"{c}__rows"),
            (F.count("*") - F.count(F.col(c))).cast("bigint").alias(f"{c}__null"),
            (
                F.sum(F.when(F.col(c) == "", 1).otherwise(0))
                if is_str
                else F.lit(0)
            )
            .cast("bigint")
            .alias(f"{c}__blank"),
            F.countDistinct(F.col(c)).cast("bigint").alias(f"{c}__distinct"),
        ]
    one = d.agg(*aggs)
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"{c}__rows").alias("n_rows"),
                        F.col(f"{c}__null").alias("n_null"),
                        F.col(f"{c}__blank").alias("n_blank"),
                        F.col(f"{c}__distinct").alias("n_distinct"),
                    )
                    for c, _ in _COMPLETENESS_COLS
                ]
            )
        ).alias("m")
    ).select("m.*")
    return rows.withColumn(
        "null_rate",
        F.round(
            F.col("n_null").cast("double") / F.col("n_rows"), 6
        ),
    )


# --- partitioned parquet roundtrip with partition pruning (round 9) ----------


def _events_fingerprinted_tmp_path(sf_dir: str, prefix: str) -> str:
    """ONE definition of the fingerprint-keyed temp path for derived
    copies of the events table (the partitioned layout, the tier
    catalog). The path embeds a content fingerprint of the source
    events parquet (ADVICE r9): the driver regenerates testdata under
    an UNCHANGED sf_dir path between rounds, so a marker keyed only
    on basename(sf_dir) would keep serving a stale derived copy while
    the DuckDB oracle reads the fresh table."""
    from .operators.session_cache import path_fingerprint

    mtime, size = path_fingerprint(os.path.join(sf_dir, "events.parquet"))
    return os.path.join(
        tempfile.gettempdir(),
        f"{prefix}_{os.path.basename(sf_dir)}_{mtime}_{size}",
    )


def partitioned_events_path(sf_dir: str) -> str:
    """Temp location of the hive-partitioned events copy (shared with
    the pruning test)."""
    return _events_fingerprinted_tmp_path(sf_dir, "engine_part_roundtrip")


def partitioned_events(spark, sf_dir):
    """Write events hive-partitioned by event_type (once per source
    fingerprint — the fingerprint is part of the temp path) and read
    the partitioned layout back."""
    out = partitioned_events_path(sf_dir)
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        ev = load_table(spark, sf_dir, "events")
        (
            ev.write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(out)
        )
    return spark.read.parquet(out)


@register(
    "source_partitioned_roundtrip",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 2) AS total_value
    FROM events WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def source_partitioned_roundtrip(spark, sf_dir):
    """Hive-partitioned parquet sink + partition-PRUNED source: events
    written partitionBy(event_type), read back with a partition-key
    filter that must prune to 2 of the 5 directories at PLANNING time
    (PartitionFilters in the scan — asserted by the pruning test, not
    just this oracle). The aggregate equals the same query over the
    unpartitioned original, proving the layout roundtrip is lossless
    including the partition column's value restore from the directory
    name.

    Scale: THE layout decision for 100 TB event data — a predicate on
    the partition key reads only matching directories, so the scan
    cost tracks the selected slice, not the table. The write's
    per-partition fan-out reuses the session's shuffle parallelism."""
    back = partitioned_events(spark, sf_dir)
    return (
        back.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --- dynamic partition pruning through a dim join (round 11) -----------------
#
# The star-schema companion to source_partitioned_roundtrip: there the
# pruning predicate is a LITERAL on the partition key (static, planned
# before execution); here it is an ATTRIBUTE filter on a separate dim
# table — "event types in the 'hot' volume tier" — whose matching key
# set is unknowable at plan time, so only Spark's dynamic partition
# pruning (a runtime SubqueryAdaptiveBroadcast reusing the join's
# broadcast to prune the partitioned scan's directories) avoids a full
# fact scan. The r11 plan test asserts `dynamicpruning` appears in the
# partitioned scan's PartitionFilters — the CASE-derived variant of
# this dim was measured and REJECTED because Catalyst constant-folds
# the attribute predicate back into a static IN-list, which would
# demo nothing. The tier catalog is derived deterministically from
# the events table itself (a type is 'hot' iff its row count clears a
# 20 % share, exact cross-multiplied integers) and written once per
# source fingerprint, mirroring partitioned_events.


def type_catalog_path(sf_dir: str) -> str:
    """Temp location of the event-type tier catalog parquet, keyed on
    the same source fingerprint as partitioned_events_path (stale
    catalogs would desynchronize from a regenerated events table)."""
    return _events_fingerprinted_tmp_path(sf_dir, "engine_type_catalog")


def type_catalog(spark, sf_dir):
    """Write the (event_type, n_type, tier) catalog once per source
    fingerprint and read it back as an independent parquet dim — the
    read-back is what makes the tier filter opaque to static plan-time
    folding (see the section comment)."""
    out = type_catalog_path(sf_dir)
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        ev = load_table(spark, sf_dir, "events")
        per = ev.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n_type")
        )
        tot = ev.agg(F.count("*").cast("bigint").alias("n_total"))
        (
            per.crossJoin(F.broadcast(tot))
            .select(
                "event_type",
                "n_type",
                F.when(
                    F.col("n_type") * 5 >= F.col("n_total"), "hot"
                )
                .otherwise("cold")
                .alias("tier"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(out)
        )
    return spark.read.parquet(out)


@register(
    "join_dynamic_partition_pruning",
    """
    WITH per AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_type
        FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM events),
    hot AS (
        SELECT event_type, n_type FROM per CROSS JOIN tot
        WHERE n_type * 5 >= n_total
    )
    SELECT e.event_type, h.n_type AS catalog_n,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN hot h ON h.event_type = e.event_type
    GROUP BY 1, 2
    """,
)
def join_dynamic_partition_pruning(spark, sf_dir):
    """Per-type volume rollup over the hive-partitioned events fact,
    restricted to the catalog's 'hot' tier through a broadcast dim
    join — the partition directories to read are decided at RUNTIME
    by dynamic partition pruning (see the section comment; the plan
    test asserts the dynamicpruning subquery). catalog_n rides along
    to prove the dim attributes survive the pruned join.

    Scale: at 100 TB this is the difference between scanning the
    whole fact and scanning only the tiers the dim selects — static
    pruning cannot do it because the key set depends on data. The
    dim side stays a broadcast (type-cardinality rows) and the fact
    side is one pruned scan + one partial-agg shuffle."""
    ev = partitioned_events(spark, sf_dir)
    hot = type_catalog(spark, sf_dir).where(F.col("tier") == "hot")
    return (
        ev.join(
            F.broadcast(hot.select("event_type", "n_type")), "event_type"
        )
        .groupBy("event_type", F.col("n_type").alias("catalog_n"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --- per-column data profile (round 16) -----------------------------------------
#
# The classic data-profiling pass (Abedjan, Golab & Naumann's survey,
# public): for EVERY column of the orders table, the null count,
# exact distinct count, uniqueness ratio, mode frequency (the
# constancy signal), and a candidate-key flag — the profile a
# pipeline runs before trusting a feed's keys and before choosing
# partition/bucket columns. Determinism without a value channel: the
# mode's VALUE never crosses engines (double/timestamp stringification
# differs between Spark and DuckDB) — only its COUNT does, grouped on
# the native value inside each engine; nulls are excluded from the
# mode per convention; ratios are micro-quantized exact-integer
# divisions; is_candidate_key is the integer conjunction
# n_distinct = n_rows AND n_nulls = 0. One profile row per column,
# ordered by column name.

_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)

_PROFILE_ORACLE = f"""
    WITH base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               {", ".join(
                   f"CAST(count(DISTINCT {c}) AS BIGINT) AS d_{c},"
                   f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
                   f" AS BIGINT) AS z_{c}"
                   for c in _PROFILE_COLS)}
        FROM orders
    ),
    {", ".join(
        f'''m_{c} AS (
        SELECT CAST(max(cnt) AS BIGINT) AS mc FROM (
            SELECT count(*) AS cnt FROM orders
            WHERE {c} IS NOT NULL GROUP BY {c}
        )
    )''' for c in _PROFILE_COLS)},
    prof AS (
        {" UNION ALL ".join(
            f"SELECT '{c}' AS col_name, b.n_rows, b.z_{c} AS n_nulls,"
            f" b.d_{c} AS n_distinct, m_{c}.mc AS mode_count"
            f" FROM base b CROSS JOIN m_{c}"
            for c in _PROFILE_COLS)}
    )
    SELECT col_name, n_rows, n_nulls, n_distinct,
           CASE WHEN n_rows > 0 THEN
               round(CAST(floor(CAST(n_distinct AS DOUBLE) / n_rows
                                * 1000000e0 + 0.5e0) AS BIGINT)
                     / 1000000e0, 6) END AS uniqueness,
           mode_count,
           CASE WHEN n_rows - n_nulls > 0 THEN
               round(CAST(floor(CAST(mode_count AS DOUBLE)
                                / (n_rows - n_nulls)
                                * 1000000e0 + 0.5e0) AS BIGINT)
                     / 1000000e0, 6) END AS mode_share,
           CAST(CASE WHEN n_distinct = n_rows AND n_nulls = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS is_candidate_key
    FROM prof
    ORDER BY col_name
"""


@register("dq_column_profile", _PROFILE_ORACLE)
def dq_column_profile(spark, sf_dir):
    """Per-column profile of the orders feed: nulls, exact distinct,
    uniqueness, mode frequency, candidate-key flag (see the section
    comment for why the mode's value never crosses engines).

    Scale: the null/distinct pass is ONE aggregate (Spark plans the
    multi-distinct via expand — a single scan); each mode is one
    map-side-combined groupBy collapsed to a 1-row max, broadcast
    back — |columns| bounded passes over a columnar scan that prunes
    to one column each, the access pattern profilers run. At
    warehouse scale the distinct counts would downgrade to HLL
    (sketch_hll_union's kernel) — exact here, where the correctness
    bar is exactness."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        *[
            e
            for c in _PROFILE_COLS
            for e in (
                F.countDistinct(c).cast("bigint").alias(f"d_{c}"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias(f"z_{c}"),
            )
        ],
    )
    # r16 optimization round (guide §2.4): the old per-column loop
    # crossJoined `base` into each of the six profile rows, so the
    # multi-distinct expand aggregate was re-planned six times. Unpivot
    # the single base row into (col_name, n_nulls, n_distinct) with one
    # stack() instead, and attach the six 1-row mode aggregates as a
    # broadcast union — base's expand scan now runs once.
    stack_expr = "stack({n}, {args}) AS (col_name, n_nulls, n_distinct)".format(
        n=len(_PROFILE_COLS),
        args=", ".join(f"'{c}', z_{c}, d_{c}" for c in _PROFILE_COLS),
    )
    baseu = base.select(F.col("n_rows"), F.expr(stack_expr))
    modes = None
    for c in _PROFILE_COLS:
        mode_c = (
            orders.where(F.col(c).isNotNull())
            .groupBy(c)
            .agg(F.count("*").alias("cnt"))
            .agg(
                F.lit(c).alias("col_name"),
                F.max("cnt").cast("bigint").alias("mode_count"),
            )
        )
        modes = mode_c if modes is None else modes.unionAll(mode_c)
    prof = baseu.join(F.broadcast(modes), "col_name").select(
        "col_name", "n_rows", "n_nulls", "n_distinct", "mode_count"
    )
    return prof.select(
        "col_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        F.expr(
            "CASE WHEN n_rows > 0 THEN "
            + micro6_sql("CAST(n_distinct AS DOUBLE) / n_rows")
            + " END"
        ).alias("uniqueness"),
        "mode_count",
        F.expr(
            "CASE WHEN n_rows - n_nulls > 0 THEN "
            + micro6_sql("CAST(mode_count AS DOUBLE) / (n_rows - n_nulls)")
            + " END"
        ).alias("mode_share"),
        F.expr(
            "CAST(CASE WHEN n_distinct = n_rows AND n_nulls = 0"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("is_candidate_key"),
    ).orderBy("col_name")
