package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.Tables
import graft.ops.Fixtures.StagedInputOps

/** Second-ring analytics surface: exact percentiles, rollup/cube grouping
  * sets, pivot, JSON extraction (events.props is a JSON column), pure-SQL
  * interop, and the reference's lake-copy pattern (M:194-207).
  */
object AnalyticsQueries {

  val defs: Seq[QueryDef] = Seq(

    QueryDef("a8_percentile_exact",
      "exact interpolated percentile per group (median)",
      "SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty FROM lineitem GROUP BY l_returnflag") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").alias("median_qty"))
    },

    QueryDef("a9_rollup",
      "ROLLUP grouping sets with supergroup rows",
      "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS cnt FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).alias("sum_qty"), count(lit(1)).alias("cnt"))
    },

    QueryDef("a13_grouping_sets",
      "GROUPING SETS: two independent aggregates in one pass (the general form behind rollup/cube)",
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
              |FROM orders_gs
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin)
    },

    QueryDef("a10_cube",
      "CUBE grouping sets",
      "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).alias("cnt"))
    },

    QueryDef("a11_pivot",
      "pivot on linestatus (CASE-aggregation equivalent)",
      "SELECT l_returnflag, SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS O, SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS F FROM lineitem GROUP BY l_returnflag") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("O", "F"))
        .sum("l_quantity")
    },

    // Correlation / variance / stddev via exact integer moment sums. The
    // built-in corr()/stddev() accumulate doubles in partition order —
    // not bit-stable across engines (or even across Spark runs). Both
    // columns are integral, so the moment sums are exact under partial
    // aggregation (map-side combine on both engines), and the finishing
    // arithmetic is ONE identical IEEE-754 expression evaluated from exact
    // inputs — bit-identical by construction. The Spark side accumulates
    // DECIMAL(38,0), not BIGINT: the finishing products (n·Σy²) pass 2^63
    // around sf10–100 (6e11 rows × Σy²≈1.5e15 ≈ 9e26 — 27 digits, well
    // inside 38), where BIGINT under ANSI-off would wrap silently. DuckDB's
    // integer SUM is already exact 128-bit HUGEINT, so both engines stay
    // exact and the final double cast matches bit-for-bit.
    QueryDef("a14_stats_moments",
      "corr/var_pop/stddev_pop per group from exact DECIMAL(38,0) moment sums (order-independent, bit-stable finish, overflow-safe past sf100)",
      """WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sx,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sy,
        |  CAST(SUM(CAST(l_linenumber AS BIGINT) * CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sxx,
        |  CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS syy,
        |  CAST(SUM(CAST(l_linenumber AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  CAST(n*sxy - sx*sy AS DOUBLE) / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)) AS corr_xy,
        |  CAST(n*syy - sy*sy AS DOUBLE) / CAST(n*n AS DOUBLE) AS var_pop_y,
        |  sqrt(CAST(n*syy - sy*sy AS DOUBLE)) / n AS stddev_pop_y
        |FROM m""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("decimal(38,0)").alias("n"),
          sum(col("l_linenumber").cast("decimal(38,0)")).alias("sx"),
          sum(col("l_quantity").cast("decimal(38,0)")).alias("sy"),
          sum(col("l_linenumber").cast("decimal(38,0)") * col("l_linenumber").cast("decimal(38,0)")).alias("sxx"),
          sum(col("l_quantity").cast("decimal(38,0)") * col("l_quantity").cast("decimal(38,0)")).alias("syy"),
          sum(col("l_linenumber").cast("decimal(38,0)") * col("l_quantity").cast("decimal(38,0)")).alias("sxy"))
        .selectExpr("l_returnflag",
          "CAST(n*sxy - sx*sy AS DOUBLE) / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)) AS corr_xy",
          "CAST(n*syy - sy*sy AS DOUBLE) / CAST(n*n AS DOUBLE) AS var_pop_y",
          "sqrt(CAST(n*syy - sy*sy AS DOUBLE)) / n AS stddev_pop_y")
    },

    // max_by/min_by (DuckDB arg_max/arg_min): the "representative row per
    // group" aggregate. Ordered by the UNIQUE key column — argmax over a
    // column with ties is nondeterministic on both engines.
    QueryDef("a15_min_max_by",
      "max_by/min_by per group over a unique ordering key (arg_max/arg_min)",
      """SELECT c_mktsegment, arg_max(c_name, c_custkey) AS last_name,
        |  arg_min(c_name, c_custkey) AS first_name, MAX(c_custkey) AS max_key
        |FROM customer GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(max_by(col("c_name"), col("c_custkey")).alias("last_name"),
          min_by(col("c_name"), col("c_custkey")).alias("first_name"),
          max(col("c_custkey")).alias("max_key"))
    },

    // Boolean and bitwise aggregates: all exact and order-independent
    // (AND/OR/XOR are commutative+associative), so they partial-aggregate
    // freely and hash-match across engines with no casting tricks.
    QueryDef("a16_bool_bit_agg",
      "bool_and/bool_or and bit_and/bit_or/bit_xor grouped aggregates",
      """SELECT o_orderstatus,
        |  bool_and(o_totalprice > 1000) AS all_over_1k,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        |  bit_and(o_orderkey) AS key_and, bit_or(o_orderkey) AS key_or,
        |  bit_xor(o_orderkey) AS key_xor
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(expr("bool_and(o_totalprice > 1000)").alias("all_over_1k"),
          expr("bool_or(o_orderpriority = '1-URGENT')").alias("any_urgent"),
          expr("bit_and(o_orderkey)").alias("key_and"),
          expr("bit_or(o_orderkey)").alias("key_or"),
          expr("bit_xor(o_orderkey)").alias("key_xor"))
    },

    // unpivot/melt — the wide→long inverse of a11_pivot. Row-local (no
    // aggregation, no shuffle beyond the scan); values pass through
    // exactly, so raw doubles are hash-safe. The four measures share
    // DOUBLE, unpivot's common-type requirement.
    QueryDef("a17_unpivot",
      "unpivot/melt: lineitem measures wide→long (metric, value)",
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem)""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity").alias("quantity"),
            col("l_extendedprice").alias("extendedprice"),
            col("l_discount").alias("discount"),
            col("l_tax").alias("tax")),
          "metric", "value")
    },

    // Same staged-estimate oracle pattern as a6: the datasketches estimate
    // can't be recomputed in DuckDB, but its error contract can be VERIFIED
    // there. Default lgK = 12 → rsd = 1.04/√4096 ≈ 0.01625; the oracle
    // checks ±3·rsd (≤ 4.875%) against the exact distinct count.
    // Approximate percentiles complete the sketch family (a6/a12 count
    // distincts): the GK-style sketch shuffles O(sketch) per group where
    // exact percentile shuffles every value. Bound check is RANK-BASED
    // counting (fraction of values ≤ the estimate must sit in q ± 0.01)
    // — no quantile-interpolation convention to disagree on: both
    // engines count the same exact doubles against the same staged
    // estimate. Rank error at accuracy 10⁴ is 10⁻⁴ ≪ the 0.01 band.
    QueryDef("a18_approx_percentile",
      "approximate median per group (GK sketch, accuracy 10^4): staged estimate + oracle-checked rank bound vs exact counts",
      s"""WITH s AS (SELECT * FROM read_parquet('${QueryDef.StageSql}/a18_est/*.parquet')),
         |b AS (SELECT e.event_type,
         |        CAST(SUM(CASE WHEN e.value <= s.p50 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_le,
         |        CAST(COUNT(*) AS BIGINT) AS n
         |      FROM events e JOIN s USING (event_type) GROUP BY e.event_type)
         |SELECT s.event_type, s.p50,
         |  CAST(b.cnt_le AS DOUBLE) / b.n BETWEEN 0.49 AND 0.51 AS within_bound
         |FROM s JOIN b USING (event_type)""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "events")
        .groupBy("event_type")
        .agg(percentile_approx(col("value"), lit(0.5), lit(10000)).alias("p50"))
        .write.mode("overwrite").parquet(s"$stage/a18_est")
      val est = s.read.parquet(s"$stage/a18_est")
      val ranks = Tables.load(s, dir, "events").join(est, "event_type")
        .groupBy("event_type")
        .agg(sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).alias("cnt_le"),
          count(lit(1)).alias("n"))
      est.join(ranks, "event_type")
        .select(col("event_type"), col("p50"),
          (col("cnt_le").cast("double") / col("n"))
            .between(0.49, 0.51).alias("within_bound"))
    },

    QueryDef("a12_hll_sketch",
      "mergeable HLL sketches (datasketches, lgK 12): staged estimate + oracle-checked ±3·rsd bound vs exact distinct — the shuffle-friendly distinct-count at fleet scale",
      s"""SELECT s.event_type, s.approx_users,
         |  ABS(s.approx_users - e.exact_users) <= 3 * 0.01625 * e.exact_users AS within_bound
         |FROM read_parquet('${QueryDef.StageSql}/a12_est/*.parquet') s
         |JOIN (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
         |      FROM events GROUP BY event_type) e USING (event_type)""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "events")
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
          .alias("approx_users"))
        .write.mode("overwrite").parquet(s"$stage/a12_est")
      val exact = Tables.load(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).alias("exact_users"))
      s.read.parquet(s"$stage/a12_est").join(exact, "event_type")
        .select(col("event_type"), col("approx_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            lit(3 * 0.01625) * col("exact_users")).alias("within_bound"))
    },

    QueryDef("f18_get_json_object",
      "JSON path extraction from a string column",
      "SELECT event_id, json_extract_string(props, '$.k') AS k_str FROM events") { (s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").alias("k_str"))
    },

    QueryDef("f19_from_json_typed",
      "from_json with declared schema → typed field",
      "SELECT event_id, CAST(props->>'$.k' AS INT) AS k_val FROM events") { (s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").cast(IntegerType).alias("k_val"))
    },

    // VARIANT (Spark 4's open-schema JSON type — the semi-structured
    // ingestion path that replaces schema-on-write structs for event
    // payloads): nested JSON is parsed ONCE into the binary variant
    // encoding, then fields extract by path with per-path result types —
    // no full-document re-parse per field, and unknown paths are NULL,
    // not errors. The entry round-trips real columns through
    // to_json → parse_json → variant_get, so the oracle is a plain
    // column projection: if any typed extraction diverges, the hash
    // catches it.
    QueryDef("f23_variant_extract",
      "VariantType round-trip: nested JSON parsed once, typed path extraction (long/string/array element, missing path → NULL)",
      """SELECT o_orderkey, o_custkey AS cust,
        |  o_orderstatus AS status,
        |  CAST(substr(o_orderpriority, 1, 1) AS VARCHAR) AS prio0,
        |  CAST(NULL AS VARCHAR) AS missing
        |FROM orders""".stripMargin) { (s, dir) =>
      val j = to_json(struct(
        col("o_custkey").alias("cust"),
        struct(col("o_orderstatus").alias("status")).alias("meta"),
        array(substring(col("o_orderpriority"), 1, 1),
          col("o_orderpriority")).alias("tags")))
      Tables.load(s, dir, "orders")
        .withColumn("v", parse_json(j))
        .select(col("o_orderkey"),
          variant_get(col("v"), "$.cust", "bigint").alias("cust"),
          variant_get(col("v"), "$.meta.status", "string").alias("status"),
          variant_get(col("v"), "$.tags[0]", "string").alias("prio0"),
          try_variant_get(col("v"), "$.nope.deep", "string")
            .alias("missing"))
    },

    QueryDef("l2_topk_custom_operator",
      "top-3 per group via the custom TopKPerKeyNode/Exec (bounded per-key heaps, no partition sort; same oracle as the window form)",
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM lineitem))
        |WHERE rn <= 3""".stripMargin) { (s, dir) =>
      graft.ops.TopK.perKey(
        Tables.load(s, dir, "lineitem")
          .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
        Seq("l_returnflag"),
        Seq(("l_extendedprice", false), ("l_orderkey", true), ("l_linenumber", true)),
        k = 3)
    },

    QueryDef("sql1_cte_window",
      "pure-SQL entry: CTE + window over registered temp views (M %sql style)",
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice FROM r WHERE rn = 1""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """WITH r AS (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders)
          |SELECT o_custkey, o_orderkey, o_totalprice FROM r WHERE rn = 1""".stripMargin)
    },

    QueryDef("src_json_roundtrip",
      "JSON source: write → read back with explicit schema (beyond-reference format)",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, dir) =>
      val tmp = Files.createTempDirectory("graft_json").toString
      val nation = Tables.load(s, dir, "nation")
      nation.write.mode("overwrite").json(s"$tmp/j")
      s.read.schema(nation.schema).json(s"$tmp/j")
    },

    QueryDef("src_orc_roundtrip",
      "ORC source: write → read back (beyond-reference columnar format)",
      "SELECT r_regionkey, r_name FROM region") { (s, dir) =>
      val tmp = Files.createTempDirectory("graft_orc").toString
      Tables.load(s, dir, "region").write.mode("overwrite").orc(s"$tmp/o")
      s.read.orc(s"$tmp/o")
    },

    // Text source/sink: the line-oriented format raw corpus drops arrive
    // in before any schema exists. Round-trips a single-column projection
    // (spark.read.text yields one `value` column) and aggregates it —
    // identical to aggregating the original, which is the oracle.
    QueryDef("src_text_roundtrip",
      "text source: write lines → read back → group count (line-oriented raw-corpus format)",
      "SELECT lang AS value, COUNT(*) AS cnt FROM documents GROUP BY lang") { (s, dir) =>
      val tmp = Files.createTempDirectory("graft_text").toString
      Tables.load(s, dir, "documents").select("lang")
        .write.mode("overwrite").text(s"$tmp/t")
      s.read.text(s"$tmp/t").groupBy("value").agg(count(lit(1)).alias("cnt"))
    },

    // Hive-style partitioned layout: write partitioned by a column, read
    // back, filter on the partition key. The filter never touches row
    // data — it prunes whole directories at planning time (the same
    // mechanism that makes date-partitioned 100 TB tables scan one day,
    // asserted plan-level in PartitionPruneSpec for the gold table).
    QueryDef("src_partitioned_prune",
      "partitionBy write → partition-pruned scan (directory-level pruning on the partition key)",
      "SELECT doc_id, source, lang FROM documents WHERE lang = 'de'") { (s, dir) =>
      val tmp = Files.createTempDirectory("graft_part").toString
      Tables.load(s, dir, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(s"$tmp/p")
      s.read.parquet(s"$tmp/p").filter(col("lang") === "de")
        .select("doc_id", "source", "lang")
    },

    QueryDef("s8_lake_copy",
      "batch table copy: read → overwrite parquet → read back (ref M:194-207)",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, dir) =>
      val tmp = Files.createTempDirectory("graft_s8").toString
      Tables.load(s, dir, "nation")
        .write.mode("overwrite").parquet(s"$tmp/copy")
      s.read.parquet(s"$tmp/copy")
    },

    // The transaction-log table tier (ref medallion.py:37/:129/:178-183
    // managed Delta tables): v1 = initial load, v2 = keyed MERGE, both
    // snapshots read back THROUGH THE LOG — the latest snapshot AND the
    // time-travel read of v1 must each hash-match DuckDB recomputing them
    // from the staged inputs. A wrong file set in either snapshot (broken
    // commit fold, non-atomic publish, merge rewriting the wrong files)
    // hash-mismatches. Crash-safety and concurrent-commit races are pinned
    // in TxLogSpec.
    QueryDef("src_txlog_versions",
      "parquet transaction log (TxLog): atomic commit, snapshot read @v2 after MERGE, time-travel read @v1 (Delta-table semantics over plain parquet)",
      s"""WITH b AS (SELECT * FROM read_parquet('${QueryDef.StageSql}/txlog_base/*.parquet')),
         |u AS (SELECT * FROM read_parquet('${QueryDef.StageSql}/txlog_updates/*.parquet')),
         |m AS (SELECT c_custkey, c_name, c_acctbal, version FROM (
         |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY version DESC, _src DESC) AS rn
         |  FROM (SELECT *, 0 AS _src FROM b UNION ALL SELECT *, 1 AS _src FROM u)) WHERE rn = 1)
         |SELECT CAST(2 AS BIGINT) AS snap, c_custkey, c_name, c_acctbal, version FROM m
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS snap, c_custkey, c_name, c_acctbal, version FROM b""".stripMargin) { (s, dir) =>
      val cust = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      val base = cust.withColumn("version", lit(1L))
      val updates = cust.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 500.0)
        .withColumn("version", lit(2L))
        .unionByName(cust.filter(pmod(col("c_custkey"), lit(11)) === 0)
          .withColumn("c_custkey", col("c_custkey") + 2000000L)
          .withColumn("version", lit(1L)))
      val stage = QueryDef.stageDir(dir)
      base.stageInput(dir, "txlog_base")
      updates.stageInput(dir, "txlog_updates")
      // deterministic build, read-only query (both time-travel reads are
      // of the FROZEN history) — build once per sf
      val table = Fixtures.immutableTable(dir, "txlog_versions", 1) { t =>
        TxLog.overwrite(s.read.parquet(s"$stage/txlog_base"), t)   // v1
        TxLog.merge(s, t, s.read.parquet(s"$stage/txlog_updates"),
          Seq("c_custkey"), "version")                             // v2
      }
      TxLog.read(s, table).withColumn("snap", lit(2L))
        .unionByName(TxLog.read(s, table, asOf = Some(1L))
          .withColumn("snap", lit(1L)))
        .select("snap", "c_custkey", "c_name", "c_acctbal", "version")
    },

    // OPTIMIZE: three appends land many small files; the compaction
    // rewrites the snapshot into 2 range-clustered files in ONE atomic
    // commit. Read @v4 (post-optimize) and time-travel @v3 (pre-optimize)
    // must BOTH hash-match the staged inputs — a compaction that drops,
    // duplicates, or reorders rows into the wrong snapshot mismatches.
    // File-count reduction and disjoint cluster ranges are pinned in
    // TxLogSpec (not SQL-expressible).
    QueryDef("src_txlog_optimize",
      "TxLog OPTIMIZE: 3 small appends → clustered compaction (repartitionByRange on key); snapshot + pre-optimize time travel both oracled",
      s"""WITH c AS (SELECT c_custkey, c_name, c_acctbal
         |  FROM read_parquet('${QueryDef.StageSql}/txopt_in/*.parquet'))
         |SELECT CAST(2 AS BIGINT) AS snap, c_custkey, c_name, c_acctbal FROM c
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS snap, c_custkey, c_name, c_acctbal FROM c""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txopt_in")
      val in = s.read.parquet(s"$stage/txopt_in")
      val table = Fixtures.immutableTable(dir, "txopt", 1) { t =>
        TxLog.append(in.filter(pmod(col("c_custkey"), lit(3)) === 0), t)   // v1
        TxLog.append(in.filter(pmod(col("c_custkey"), lit(3)) === 1), t)   // v2
        TxLog.append(in.filter(pmod(col("c_custkey"), lit(3)) === 2), t)   // v3
        TxLog.optimize(s, t, targetFiles = 2,
          clusterBy = Seq(col("c_custkey")))                               // v4
      }
      val v = TxLog.latestVersion(table).get
      TxLog.read(s, table, asOf = Some(v)).withColumn("snap", lit(2L))
        .unionByName(TxLog.read(s, table, asOf = Some(v - 1))
          .withColumn("snap", lit(1L)))
        .select("snap", "c_custkey", "c_name", "c_acctbal")
    },

    // DESCRIBE HISTORY analog: the commit log itself as a queryable
    // DataFrame. The staged op sequence has fully deterministic file
    // deltas (partition counts pinned with coalesce), so the oracle is a
    // plain VALUES literal — the history API's content is checked
    // row-for-row, not just shaped. Timestamps/bytes are excluded from
    // the projection (wall-clock and encoding-dependent).
    QueryDef("src_txlog_history",
      "DESCRIBE HISTORY analog: commit log as a DataFrame — version, op, file deltas, row-for-row against a VALUES oracle",
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'overwrite', CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'append',    CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(3 AS BIGINT), 'dvDelete',  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
        |  (CAST(4 AS BIGINT), 'optimize',  CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT))
        |) AS t(version, op, n_added, n_removed, n_added_dvs)""".stripMargin) { (s, dir) =>
      val in = Tables.load(s, dir, "customer").select("c_custkey", "c_name")
      val t = Fixtures.immutableTable(dir, "txhist", 2) { t =>
        TxLog.overwrite(in.filter(pmod(col("c_custkey"), lit(2)) === 0)
          .repartition(2), t)                                          // v1: 2 files
        TxLog.append(in.filter(pmod(col("c_custkey"), lit(2)) === 1)
          .coalesce(1), t)                                             // v2: 1 file
        TxLog.deleteVectors(s, t, pmod(col("c_custkey"), lit(7)) === 0) // v3: 1 DV
        TxLog.optimize(s, t, targetFiles = 1)                          // v4: 3→1
      }
      TxLog.history(s, t)
        .select("version", "op", "n_added", "n_removed", "n_added_dvs")
    },

    // Table properties (Delta TBLPROPERTIES): SET/UNSET as data-less
    // commits folded last-write-wins, readable as-of any version. The
    // engine consults `graft.bloom.columns` itself — a table declares
    // its bloom index ONCE and every plain append indexes it (no
    // sidecars to derive from on the first write, no caller plumbing).
    // The staged op sequence is deterministic, so the oracle is the
    // final folded map as a VALUES literal.
    QueryDef("src_txlog_properties",
      "table properties: SET/UNSET TBLPROPERTIES analogs, last-write-wins fold, declared bloom config indexes plain appends",
      """SELECT * FROM (VALUES
        |  ('graft.bloom.columns', 'c_custkey'),
        |  ('retention.versions', '30')
        |) AS t(key, value)""".stripMargin) { (s, dir) =>
      val cust = Tables.load(s, dir, "customer").select("c_custkey", "c_name")
      val t = Fixtures.immutableTable(dir, "txprops", 1) { t =>
        TxLog.overwrite(cust.filter(pmod(col("c_custkey"), lit(2)) === 0), t) // v1
        TxLog.setProperties(t, Map(
          "graft.bloom.columns" -> "c_custkey", "owner" -> "ingest"))       // v2
        TxLog.setProperties(t, Map("retention.versions" -> "30"))           // v3
        TxLog.unsetProperties(t, Seq("owner"))                              // v4
        // plain append — the DECLARED config indexes it
        TxLog.append(cust.filter(pmod(col("c_custkey"), lit(2)) === 1), t)  // v5
      }
      require(TxLog.commits(t).last.bloomAdd.nonEmpty,
        "declared bloom config must index the append")
      import s.implicits._
      TxLog.properties(t).toSeq.toDF("key", "value")
    },

    // The SQL DDL+DML lifecycle end-to-end: CREATE TABLE with a declared
    // schema on a fresh path (empty schema-only commit), two INSERT INTO
    // … SELECT statements (one atomic commit each), read the final
    // snapshot. The catalog table name is UUID-suffixed because catalog
    // state is session-global and this entry runs twice per bench
    // session (and concurrently with everything else).
    QueryDef("src_txlog_sql_lifecycle",
      "SQL DDL+DML on a txlog table: CREATE TABLE with schema, INSERT INTO ... SELECT x2, final snapshot",
      s"""SELECT c_custkey, c_name
         |FROM read_parquet('${QueryDef.StageSql}/txsql_in/*.parquet')
         |WHERE c_custkey % 2 = 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_name")
        .stageInput(dir, "txsql_in")
      val t = Files.createTempDirectory("graft_txsql").toString + "/t"
      val id = java.util.UUID.randomUUID.toString.take(8)
      val tbl = s"txsql_$id"; val view = s"txsql_src_$id"
      s.read.parquet(s"$stage/txsql_in").createOrReplaceTempView(view)
      s.sql(s"""CREATE TABLE $tbl (c_custkey BIGINT, c_name STRING)
               |USING graft.sources.txlog OPTIONS (path '$t')""".stripMargin)
      try {
        s.sql(s"""INSERT INTO $tbl SELECT c_custkey, c_name
                 |FROM $view WHERE c_custkey % 4 = 0""".stripMargin)
        s.sql(s"""INSERT INTO $tbl SELECT c_custkey, c_name
                 |FROM $view WHERE c_custkey % 4 = 2""".stripMargin)
        TxLog.read(s, t).select("c_custkey", "c_name")
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.catalog.dropTempView(view)
      }
    },

    // Pure-SQL time travel (no API calls): CREATE TEMPORARY VIEW ...
    // USING pins versionAsOf per view, so a SQL-only reader queries two
    // versions of one table side by side — the relation pins its version
    // at resolution (see TxLogRelationSpec), making the views stable
    // snapshots exactly like Delta's VERSION AS OF. EXCEPT diffs them.
    QueryDef("src_txlog_sql_time_travel",
      "SQL time travel: two temp views pin versionAsOf 1 and 2 of one txlog table; EXCEPT yields exactly the rows version 2 added",
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 1") { (s, dir) =>
      val cust = Tables.load(s, dir, "customer").select("c_custkey", "c_name")
      val t = Fixtures.immutableTable(dir, "txtt", 1) { t =>
        TxLog.append(cust.filter(pmod(col("c_custkey"), lit(2)) === 0), t) // v1
        TxLog.append(cust.filter(pmod(col("c_custkey"), lit(2)) === 1), t) // v2
      }
      val id = java.util.UUID.randomUUID.toString.take(8)
      val (v1, v2) = (s"txtt_v1_$id", s"txtt_v2_$id")
      // session-scoped temp views; unique names keep concurrent Bench
      // runs apart, and they must outlive this builder (the returned
      // frame evaluates lazily), so no drop here
      s.sql(s"""CREATE TEMPORARY VIEW $v1 USING graft.sources.txlog
               |OPTIONS (path '$t', versionAsOf '1')""".stripMargin)
      s.sql(s"""CREATE TEMPORARY VIEW $v2 USING graft.sources.txlog
               |OPTIONS (path '$t', versionAsOf '2')""".stripMargin)
      s.sql(s"""SELECT c_custkey, c_name FROM $v2
               |EXCEPT SELECT c_custkey, c_name FROM $v1""".stripMargin)
    },

    // Bin-packing OPTIMIZE (Delta's minFileSize form): a big file plus a
    // trickle of small appends; compaction rewrites ONLY the small files
    // — at 100 TB you compact the micro-batch trickle, never the table
    // (full-snapshot OPTIMIZE would rewrite 100 TB to fix 1% of it).
    // Deletion vectors split precisely across the boundary: the
    // small-file DV materializes into the rewrite and retires, the
    // big-file DV keeps filtering its untouched file — the oracle's two
    // delete predicates prove both kept working through the commit.
    QueryDef("src_txlog_optimize_small",
      "TxLog bin-packing OPTIMIZE: only sub-threshold files rewritten (large file untouched), DVs materialize into the rewrite or survive on kept files",
      s"""SELECT c_custkey, c_name, c_acctbal
         |FROM read_parquet('${QueryDef.StageSql}/txoptsm_in/*.parquet')
         |WHERE c_custkey % 100 <> 1 AND c_custkey % 200 <> 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txoptsm_in")
      val in = s.read.parquet(s"$stage/txoptsm_in")
      // v1–v6 (big file + trickle + both DVs) cached per sf; the
      // bin-packing OPTIMIZE — the feature — runs fresh on a file-copy
      val base = Fixtures.immutableTable(dir, "txoptsm_base", 2) { t =>
        TxLog.append(in.filter(pmod(col("c_custkey"), lit(4)) =!= 0)
          .coalesce(1), t)                                              // v1: big
        Seq(0, 4, 8).foreach(r =>
          TxLog.append(in.filter(pmod(col("c_custkey"), lit(12)) === r)
            .coalesce(1), t))                                           // v2-4: trickle
        TxLog.deleteVectors(s, t,
          pmod(col("c_custkey"), lit(100)) === 1)    // v5: DV on the big file
        TxLog.deleteVectors(s, t,
          pmod(col("c_custkey"), lit(200)) === 0)    // v6: DV on small files
      }
      val table = Fixtures.mutableCopy(base, "graft_txoptsm")
      val sizes = TxLog.fileSizes(table)
      val big = TxLog.activeFiles(table).maxBy(sizes)
      // byte-targeted bin-packing (how a 100 TB table compacts: toward a
      // file-size goal, not a file count) — the trickle packs into
      // ceil(small bytes / target) outputs, the large file stays put
      TxLog.optimizeSmall(s, table, sizes(big),
        targetBytes = Some(sizes(big))).get                               // v7
      require(TxLog.activeFiles(table).contains(big),
        "bin-packing must not rewrite the large file")
      TxLog.read(s, table).select("c_custkey", "c_name", "c_acctbal")
    },

    // Data skipping: appends record per-file min/max of c_custkey in the
    // commit, and the range read plans ONLY the files whose recorded
    // range intersects — Delta's stats-based file skipping (at fleet
    // scale: open the log, not 100 TB of footers). The oracle proves the
    // pruned read returns exactly the rows a full-scan filter would;
    // that pruning actually dropped files is pinned in TxLogSpec.
    QueryDef("src_txlog_skipping",
      "TxLog data skipping: per-file column stats in commits; stats-pruned range read ≡ full-scan filter",
      s"""SELECT c_custkey, c_name, c_acctbal
         |FROM read_parquet('${QueryDef.StageSql}/txskip_in/*.parquet')
         |WHERE c_custkey BETWEEN 700 AND 1200""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txskip_in")
      val in = s.read.parquet(s"$stage/txskip_in")
      val table = Fixtures.immutableTable(dir, "txskip", 1) { t =>
        TxLog.append(in.filter(col("c_custkey") < 500), t,
          statsCols = Seq("c_custkey"))
        TxLog.append(in.filter(col("c_custkey") >= 500 &&
          col("c_custkey") < 1000), t, statsCols = Seq("c_custkey"))
        TxLog.append(in.filter(col("c_custkey") >= 1000), t,
          statsCols = Seq("c_custkey"))
      }
      TxLog.readRange(s, table, "c_custkey", 700, 1200)
        .select("c_custkey", "c_name", "c_acctbal")
    },

    // The STRING twin of src_txlog_skipping: string columns record their
    // per-file bounds as strings (sstats, UTF-8 byte order — casting a
    // lexicographic min/max through double records inverted garbage for
    // numeric-looking strings), and readStringRange prunes by them. The
    // two appends split customer on c_name's zero-padded midpoint, so
    // each file's name range is disjoint and the narrow read plans one.
    QueryDef("src_txlog_skipping_string",
      "TxLog string data skipping: sstats bounds in commits; lexicographically pruned name-range read ≡ full-scan filter",
      s"""SELECT c_custkey, c_name, c_acctbal
         |FROM read_parquet('${QueryDef.StageSql}/txskipstr_in/*.parquet')
         |WHERE c_name BETWEEN 'Customer#000000020' AND 'Customer#000000045'""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txskipstr_in")
      val in = s.read.parquet(s"$stage/txskipstr_in")
      val table = Fixtures.immutableTable(dir, "txskipstr", 1) { t =>
        TxLog.append(in.filter(col("c_name") < "Customer#000000075"), t,
          statsCols = Seq("c_name"))
        TxLog.append(in.filter(col("c_name") >= "Customer#000000075"), t,
          statsCols = Seq("c_name"))
      }
      TxLog.readStringRange(s, table, "c_name",
        "Customer#000000020", "Customer#000000045")
        .select("c_custkey", "c_name", "c_acctbal")
    },

    // Bloom-index point lookup — the pruning shape stats CANNOT do. The
    // three appends interleave customers by c_custkey % 3, so every
    // file's c_name [min, max] spans the whole domain and sstats admit
    // all files; the per-file bloom filters (Delta's bloom-filter-index
    // analog, built by one grouped sketch aggregation at append time)
    // prune the needle-in-the-lake lookup to the files that might hold
    // the probed names. Blooms have no false negatives, so the pruned
    // read ≡ the full-scan IN-filter — which is what the oracle checks.
    QueryDef("src_txlog_bloom_lookup",
      "TxLog bloom-index skipping: per-file filters in sidecars; point lookup on a hash-scattered key ≡ full-scan IN filter",
      s"""SELECT c_custkey, c_name, c_acctbal
         |FROM read_parquet('${QueryDef.StageSql}/txbloom_in/*.parquet')
         |WHERE c_name IN ('Customer#000000031', 'Customer#000000392',
         |                 'Customer#000000663')""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txbloom_in")
      val in = s.read.parquet(s"$stage/txbloom_in")
      // three appends + bloom sketch aggregations, read-only afterwards
      // (the measured op is the pruned LOOKUP) — build once per sf
      val table = Fixtures.immutableTable(dir, "txbloom_base", 1) { t =>
        (0 until 3).foreach { m =>
          TxLog.append(in.filter(col("c_custkey") % 3 === m), t,
            statsCols = Seq("c_name"), bloomCols = Seq("c_name"))
        }
      }
      TxLog.readEquals(s, table, "c_name",
        Seq("Customer#000000031", "Customer#000000392",
          "Customer#000000663"))
        .select("c_custkey", "c_name", "c_acctbal")
    },

    // Event-time data skipping — the single most common pruning shape at
    // lake scale (time-clustered fact tables, time-bounded reads).
    // Timestamp statsCols record epoch-seconds double bounds; readRange
    // compares through the identical cast, so both engines evaluate the
    // same IEEE-754 seconds from the same exact microsecond integers.
    QueryDef("src_txlog_skipping_time",
      "TxLog event-time data skipping: timestamp stats in commits; time-range read ≡ full-scan filter",
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
        |WHERE epoch(ts) >= 1704844800.0 AND epoch(ts) <= 1705017599.0""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "user_id", "ts", "value")
      val split = lit("2024-01-15 00:00:00").cast("timestamp")
      val table = Fixtures.immutableTable(dir, "txskiptime", 1) { t =>
        TxLog.append(ev.filter(col("ts") < split), t, statsCols = Seq("ts"))
        TxLog.append(ev.filter(col("ts") >= split), t, statsCols = Seq("ts"))
      }
      // Jan 10–11 inclusive (epoch seconds): prunes the second-half file
      TxLog.readRange(s, table, "ts", 1704844800.0, 1705017599.0)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).alias("ts_us"), col("value"))
    },

    // The SQL twin of src_txlog_skipping_time: NO TxLog API at the read
    // site — a plain `WHERE ts BETWEEN …` over a `CREATE TEMPORARY VIEW
    // … USING graft.sources.txlog` view. The relation derives per-column
    // bounds from the PUSHED filters (timestamp → the same epoch-seconds
    // double its stats recorded; strings → sstats) and plans the parquet
    // scan over only the intersecting files — Delta's data-skipping read
    // path surfaced to SQL readers. File-count proof is spec-pinned
    // (TxLogSpec "SQL WHERE over a txlog view prunes files"); this entry
    // oracles the end-to-end SQL answer.
    QueryDef("src_txlog_sql_skipping",
      "SQL data skipping: plain WHERE over a txlog temp view prunes files via pushed-filter timestamp bounds (no API call site)",
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
        |WHERE epoch(ts) >= 1704844800.0 AND epoch(ts) <= 1705017599.0""".stripMargin) { (s, dir) =>
      val table = Files.createTempDirectory("graft_txsqlskip").toString + "/t"
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "user_id", "ts", "value")
      val split = lit("2024-01-15 00:00:00").cast("timestamp")
      TxLog.append(ev.filter(col("ts") < split), table, statsCols = Seq("ts"))
      TxLog.append(ev.filter(col("ts") >= split), table, statsCols = Seq("ts"))
      val id = java.util.UUID.randomUUID.toString.take(8)
      val view = s"txsqlskip_$id"
      // temp view outlives this builder (lazy evaluation) — no drop here
      s.sql(s"""CREATE TEMPORARY VIEW $view USING graft.sources.txlog
               |OPTIONS (path '$table')""".stripMargin)
      s.sql(s"""SELECT event_id, user_id, unix_micros(ts) AS ts_us, value
               |FROM $view
               |WHERE ts >= timestamp'2024-01-10 00:00:00'
               |  AND ts <= timestamp'2024-01-11 23:59:59'""".stripMargin)
    },

    // TxLog partition columns (Delta's partitionValues, recorded in the
    // Hive-style path): a table declares `graft.partition.columns` once
    // and EVERY write path stages `d-<uuid>/o_year=1997/part-….parquet`;
    // reads reconstruct the stripped column from the path; a plain SQL
    // WHERE on the partition column prunes to exactly the matching
    // partition's files BEFORE stats are even consulted — the plan-shape
    // parity with the reference's partition-by-year gold reads
    // (Amazon_books_review_medallion_architecture.py:194-207).
    // File-count proof is spec-pinned (TxLogPartitionSpec "SQL WHERE on
    // the partition column prunes through the relation"); this entry
    // oracles the end-to-end SQL answer at catalog scale.
    QueryDef("src_txlog_partitioned",
      "TxLog partition columns: declared layout writes Hive-style files, SQL WHERE prunes on exact partition values before stats",
      """SELECT o_orderkey, o_custkey, o_totalprice, o_year
        |FROM (SELECT o_orderkey, o_custkey, o_totalprice,
        |        CAST(YEAR(o_orderdate) AS INT) AS o_year FROM orders)
        |WHERE o_year = 1997""".stripMargin) { (s, dir) =>
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).alias("o_year"))
      val table = Fixtures.immutableTable(dir, "txpart", 1) { t =>
        TxLog.setProperties(t, Map("graft.partition.columns" -> "o_year"))
        TxLog.append(ord, t)
      }
      val id = java.util.UUID.randomUUID.toString.take(8)
      val view = s"txpart_$id"
      s.sql(s"""CREATE TEMPORARY VIEW $view USING graft.sources.txlog
               |OPTIONS (path '$table')""".stripMargin)
      s.sql(s"""SELECT o_orderkey, o_custkey, o_totalprice, o_year
               |FROM $view WHERE o_year = 1997""".stripMargin)
    },

    // Dynamic partition overwrite (Spark partitionOverwriteMode=dynamic /
    // Delta replaceWhere on the incoming partitions): the backfill shape —
    // re-derive ONE partition of a partitioned table, replace exactly its
    // files in one atomic commit, every other partition byte-identical in
    // place. The oracle recomputes untouched years ∪ the re-derived 1997.
    QueryDef("src_txlog_overwrite_partitions",
      "dynamic partition overwrite: re-derived 1997 partition atomically replaces only its own files",
      """SELECT o_orderkey, o_totalprice, o_year FROM (
        |  SELECT o_orderkey, o_totalprice,
        |         CAST(YEAR(o_orderdate) AS INT) AS o_year FROM orders)
        |WHERE o_year <> 1997
        |UNION ALL
        |SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice,
        |       CAST(YEAR(o_orderdate) AS INT) AS o_year
        |FROM orders WHERE CAST(YEAR(o_orderdate) AS INT) = 1997""".stripMargin) { (s, dir) =>
      val table = Files.createTempDirectory("graft_txdynow").toString + "/t"
      TxLog.setProperties(table, Map("graft.partition.columns" -> "o_year"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          year(col("o_orderdate")).alias("o_year"))
      TxLog.append(ord, table)
      // the backfill: 1997 re-derived with a corrected price
      TxLog.overwritePartitions(
        ord.filter(col("o_year") === 1997)
          .withColumn("o_totalprice", col("o_totalprice") + 100.0),
        table)
      TxLog.read(s, table)
    },

    // Change data feed (Delta table_changes): v2 rewrites the table with
    // updates, deletes, and inserts; changes(v1→v2) must classify every
    // key — insert / delete / update via null-safe column compares —
    // and emit nothing for untouched keys. The oracle recomputes the
    // keyed full-outer diff over the two staged snapshots.
    QueryDef("src_txlog_changes",
      "TxLog change data feed: keyed full-outer diff of two versions → insert/delete/update rows",
      s"""WITH a AS (SELECT * FROM read_parquet('${QueryDef.StageSql}/txcdf_v1/*.parquet')),
         |b AS (SELECT * FROM read_parquet('${QueryDef.StageSql}/txcdf_v2/*.parquet')),
         |j AS (SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  a.c_name AS name_a, a.c_acctbal AS bal_a,
         |  b.c_name AS name_b, b.c_acctbal AS bal_b
         |  FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey)
         |SELECT COALESCE(kb, ka) AS c_custkey,
         |  CASE WHEN kb IS NULL THEN name_a ELSE name_b END AS c_name,
         |  CASE WHEN kb IS NULL THEN bal_a ELSE bal_b END AS c_acctbal,
         |  CASE WHEN ka IS NULL THEN 'insert' WHEN kb IS NULL THEN 'delete'
         |       ELSE 'update' END AS change_type
         |FROM j
         |WHERE ka IS NULL OR kb IS NULL
         |   OR NOT (name_a IS NOT DISTINCT FROM name_b
         |           AND bal_a IS NOT DISTINCT FROM bal_b)""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      val cust = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      cust.stageInput(dir, "txcdf_v1")
      // v2: delete %7 keys, bump %3 balances, insert shifted %11 copies
      Fixtures.stagedInput(dir, "txcdf_v2", 1)(
        s.read.parquet(s"$stage/txcdf_v1")
          .filter(pmod(col("c_custkey"), lit(7)) =!= 0)
          .withColumn("c_acctbal",
            when(pmod(col("c_custkey"), lit(3)) === 0, col("c_acctbal") + 500.0)
              .otherwise(col("c_acctbal")))
          .unionByName(s.read.parquet(s"$stage/txcdf_v1")
            .filter(pmod(col("c_custkey"), lit(11)) === 0)
            .withColumn("c_custkey", col("c_custkey") + 2000000L)))
      val table = Fixtures.immutableTable(dir, "txcdf", 1) { t =>
        TxLog.overwrite(s.read.parquet(s"$stage/txcdf_v1"), t) // v1
        TxLog.overwrite(s.read.parquet(s"$stage/txcdf_v2"), t) // v2
      }
      TxLog.changes(s, table, Seq("c_custkey"), 1L, 2L)
    },

    // Delta readChangeFeed's update split: with preImages on, every
    // update emits BOTH its old row (`update_preimage`) and its new row
    // (`update_postimage`) — what a reversible-delta consumer or an
    // old-value audit needs. Same staged snapshots as src_txlog_changes;
    // the oracle recomputes the diff with updates unioned as two images.
    QueryDef("src_txlog_changes_preimage",
      "TxLog change feed with pre-images: updates emit update_preimage + update_postimage rows; insert/delete unchanged",
      s"""WITH a AS (SELECT * FROM read_parquet('${QueryDef.StageSql}/txcdfpre_v1/*.parquet')),
         |b AS (SELECT * FROM read_parquet('${QueryDef.StageSql}/txcdfpre_v2/*.parquet')),
         |j AS (SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  a.c_name AS name_a, a.c_acctbal AS bal_a,
         |  b.c_name AS name_b, b.c_acctbal AS bal_b
         |  FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey),
         |chg AS (SELECT * FROM j
         |  WHERE ka IS NULL OR kb IS NULL
         |     OR NOT (name_a IS NOT DISTINCT FROM name_b
         |             AND bal_a IS NOT DISTINCT FROM bal_b))
         |SELECT kb AS c_custkey, name_b AS c_name, bal_b AS c_acctbal,
         |  'insert' AS change_type FROM chg WHERE ka IS NULL
         |UNION ALL
         |SELECT ka, name_a, bal_a, 'delete' FROM chg WHERE kb IS NULL
         |UNION ALL
         |SELECT ka, name_a, bal_a, 'update_preimage' FROM chg
         |  WHERE ka IS NOT NULL AND kb IS NOT NULL
         |UNION ALL
         |SELECT kb, name_b, bal_b, 'update_postimage' FROM chg
         |  WHERE ka IS NOT NULL AND kb IS NOT NULL""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      val cust = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      cust.stageInput(dir, "txcdfpre_v1")
      Fixtures.stagedInput(dir, "txcdfpre_v2", 1)(
        s.read.parquet(s"$stage/txcdfpre_v1")
          .filter(pmod(col("c_custkey"), lit(9)) =!= 0)
          .withColumn("c_acctbal",
            when(pmod(col("c_custkey"), lit(4)) === 0, col("c_acctbal") - 250.0)
              .otherwise(col("c_acctbal"))))
      val table = Fixtures.immutableTable(dir, "txcdfpre", 1) { t =>
        TxLog.overwrite(s.read.parquet(s"$stage/txcdfpre_v1"), t) // v1
        TxLog.overwrite(s.read.parquet(s"$stage/txcdfpre_v2"), t) // v2
      }
      TxLog.changes(s, table, Seq("c_custkey"), 1L, 2L, preImages = true)
    },

    // DELETE + UPDATE DML, file-granular copy-on-write (how Delta runs
    // them): one scan finds the files containing matching rows, only
    // those are rewritten, untouched files keep their paths (pinned in
    // TxLogSpec). The oracle recomputes both verbs declaratively over
    // the staged input.
    QueryDef("src_txlog_dml",
      "TxLog DML: DELETE WHERE (custkey%5=0) then UPDATE …SET bal+=100 WHERE (custkey%7=0), copy-on-write; final snapshot oracled",
      s"""SELECT c_custkey, c_name,
         |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
         |       ELSE c_acctbal END AS c_acctbal
         |FROM read_parquet('${QueryDef.StageSql}/txdml_in/*.parquet')
         |WHERE c_custkey % 5 <> 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txdml_in")
      val base = Fixtures.immutableTable(dir, "txdml_base", 1) { t =>
        TxLog.overwrite(s.read.parquet(s"$stage/txdml_in")
          .repartition(6), t)                                       // v1
      }
      val table = Fixtures.mutableCopy(base, "graft_txdml")
      TxLog.delete(s, table, pmod(col("c_custkey"), lit(5)) === 0)  // v2
      TxLog.update(s, table, pmod(col("c_custkey"), lit(7)) === 0,
        Map("c_acctbal" -> (col("c_acctbal") + 100.0)))             // v3
      TxLog.read(s, table)
    },

    // Row-level DELETE via deletion vectors (protocol v2, Delta's DV
    // feature): two stacked dvDeletes kill rows with ZERO data files
    // rewritten — reads anti-join the active DV set. The oracle
    // recomputes both predicates declaratively over the staged input;
    // file-set invariance, cumulative stacking, copy-on-write interplay
    // and OPTIMIZE retirement are pinned in TxLogSpec.
    QueryDef("src_txlog_dv",
      "TxLog deletion vectors: dvDelete (custkey%6=0) then dvDelete (bal<0), no rewrite; DV-filtered snapshot oracled",
      s"""SELECT c_custkey, c_name, c_acctbal
         |FROM read_parquet('${QueryDef.StageSql}/txdv_in/*.parquet')
         |WHERE c_custkey % 6 <> 0 AND c_acctbal >= 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txdv_in")
      // base snapshot cached per sf; the dvDeletes (the feature under
      // measure) stay fresh on a file-copy of it
      val base = Fixtures.immutableTable(dir, "txdv_base", 1) { t =>
        TxLog.overwrite(s.read.parquet(s"$stage/txdv_in")
          .repartition(6), t)                                          // v1
      }
      val table = Fixtures.mutableCopy(base, "graft_txdv")
      TxLog.deleteVectors(s, table, pmod(col("c_custkey"), lit(6)) === 0) // v2
      TxLog.deleteVectors(s, table, col("c_acctbal") < 0)               // v3
      TxLog.read(s, table)
    },

    // Scattered row-level delete through the BITSET deletion-vector
    // encoding (the 100 TB shape of src_txlog_dv's scatter case): a
    // single file clustered by o_orderkey, every other key deleted — the
    // RLE range list would persist one width-1 range per dead row, so
    // the writer switches to the roaring-style bitset (DvBitmapCodec,
    // ~8 KiB per dense 64 Ki-row block) and the read probes it join-free
    // via a constant file→bitmap map. Oracle = the same parity filter
    // over the staged input; byte-size/encoding proofs live in
    // TxLogSpec/DvBitmapSpec.
    QueryDef("src_txlog_dv_scatter",
      "TxLog scattered delete via bitset DVs: every-other-row dvDelete on one file, snapshot oracled (bitset encoding + join-free probe)",
      s"""SELECT o_orderkey, o_custkey, o_totalprice
         |FROM read_parquet('${QueryDef.StageSql}/txdvsc_in/*.parquet')
         |WHERE o_orderkey % 2 = 1""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .stageInput(dir, "txdvsc_in")
      val base = Fixtures.immutableTable(dir, "txdvsc_base", 1) { t =>
        TxLog.overwrite(s.read.parquet(s"$stage/txdvsc_in")
          .sort("o_orderkey").coalesce(1), t)                          // v1
      }
      val table = Fixtures.mutableCopy(base, "graft_txdvsc")
      TxLog.deleteVectors(s, table, pmod(col("o_orderkey"), lit(2)) === 0) // v2
      TxLog.read(s, table)
    },

    // RESTORE TABLE … TO VERSION AS OF: one forward commit re-points the
    // active file + DV sets at an older snapshot (no rewrite; Delta
    // RESTORE semantics). Output = restored snapshot UNION the pre-restore
    // head, proving both that the restore equals v1 exactly and that the
    // in-between history stays time-travelable after it.
    QueryDef("src_txlog_restore",
      "TxLog RESTORE: v1 load → v2 DML → restore to v1 as v3; restored snapshot + time travel to the pre-restore head both oracled",
      s"""WITH b AS (SELECT c_custkey, c_name, c_acctbal
         |  FROM read_parquet('${QueryDef.StageSql}/txrst_in/*.parquet'))
         |SELECT CAST(3 AS BIGINT) AS snap, c_custkey, c_name, c_acctbal FROM b
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS snap, c_custkey, c_name,
         |  CASE WHEN c_custkey % 3 = 0 THEN c_acctbal - 50.0 ELSE c_acctbal END AS c_acctbal
         |FROM b WHERE c_custkey % 4 <> 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txrst_in")
      // v1–v3 (load + the DML history RESTORE rewinds over) cached; the
      // RESTORE itself — the feature — runs fresh on a file-copy
      val base = Fixtures.immutableTable(dir, "txrst_base", 2) { t =>
        TxLog.overwrite(s.read.parquet(s"$stage/txrst_in")
          .repartition(4), t)                                          // v1
        TxLog.deleteVectors(s, t, pmod(col("c_custkey"), lit(4)) === 0) // v2
        TxLog.update(s, t, pmod(col("c_custkey"), lit(3)) === 0,
          Map("c_acctbal" -> (col("c_acctbal") - 50.0)))               // v3
      }
      val table = Fixtures.mutableCopy(base, "graft_txrst")
      val head = TxLog.latestVersion(table).get
      val v = TxLog.restore(s, table, 1L)                              // v4
      TxLog.read(s, table, Some(v)).withColumn("snap", lit(3L))
        .unionByName(TxLog.read(s, table, Some(head))
          .withColumn("snap", lit(2L)))
        .select("snap", "c_custkey", "c_name", "c_acctbal")
    },

    // Shallow CLONE: the clone's first commit REFERENCES the source
    // snapshot's files (zero copied bytes — metadata cost at any table
    // size), then both sides evolve independently. Output = post-append
    // clone ∪ the source, proving the clone saw the snapshot and the
    // source never saw the clone's append. Zero-copy/stats-carry/
    // localize-on-OPTIMIZE invariants are pinned in TxLogSpec.
    QueryDef("src_txlog_clone",
      "TxLog shallow clone: zero-copy snapshot reference, clone-side append isolated from the source; both tables oracled",
      s"""WITH b AS (SELECT c_custkey, c_name, c_acctbal
         |  FROM read_parquet('${QueryDef.StageSql}/txcln_in/*.parquet'))
         |SELECT CAST(1 AS BIGINT) AS side, c_custkey, c_name, c_acctbal FROM b
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS side, c_custkey, c_name, c_acctbal FROM b
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS side, c_custkey + 9000000, c_name,
         |  c_acctbal FROM b WHERE c_custkey % 10 = 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txcln_in")
      val root = Files.createTempDirectory("graft_txcln").toString
      val src = s"$root/src"
      val dst = s"$root/dst"
      TxLog.overwrite(s.read.parquet(s"$stage/txcln_in").repartition(4), src)
      TxLog.cloneTable(s, src, dst)
      TxLog.append(s.read.parquet(s"$stage/txcln_in")
        .filter(pmod(col("c_custkey"), lit(10)) === 0)
        .withColumn("c_custkey", col("c_custkey") + 9000000L), dst)
      TxLog.read(s, src).withColumn("side", lit(1L))
        .unionByName(TxLog.read(s, dst).withColumn("side", lit(2L)))
        .select("side", "c_custkey", "c_name", "c_acctbal")
    },

    // SQL MERGE INTO (the GraftSqlParser DML surface — Delta's largest
    // SQL verb, lowered onto TxLog.mergeInto): clause order matters
    // (first matching WHEN wins per row), matched rows rewrite ONLY the
    // files that held them, unmatched source rows insert. The oracle
    // recomputes the three-clause merge declaratively: negative-balance
    // matches delete, other matches get +1000, source-only keys insert.
    QueryDef("src_txlog_sql_merge",
      "SQL MERGE INTO a txlog table: WHEN MATCHED AND bal<0 DELETE / WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT *, post-merge snapshot oracled",
      s"""WITH i AS (SELECT c_custkey, c_name, c_acctbal
         |  FROM read_parquet('${QueryDef.StageSql}/txsqlmrg_in/*.parquet')),
         |t AS (SELECT * FROM i WHERE c_custkey % 2 = 0),
         |s AS (SELECT * FROM i WHERE c_custkey % 3 = 0)
         |SELECT t.c_custkey, t.c_name,
         |  CASE WHEN s.c_custkey IS NOT NULL THEN t.c_acctbal + 1000.0
         |       ELSE t.c_acctbal END AS c_acctbal
         |FROM t LEFT JOIN s ON t.c_custkey = s.c_custkey
         |WHERE NOT (s.c_custkey IS NOT NULL AND t.c_acctbal < 0)
         |UNION ALL
         |SELECT s.c_custkey, s.c_name, s.c_acctbal
         |FROM s LEFT JOIN t ON s.c_custkey = t.c_custkey
         |WHERE t.c_custkey IS NULL""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txsqlmrg_in")
      val in = s.read.parquet(s"$stage/txsqlmrg_in")
      val table = Files.createTempDirectory("graft_txsqlmrg").toString + "/t"
      TxLog.overwrite(in.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .repartition(4), table)                                       // v1
      val id = java.util.UUID.randomUUID.toString.take(8)
      val srcView = s"txsqlmrg_src_$id"
      in.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .createOrReplaceTempView(srcView)
      s.sql(
        s"""MERGE INTO txlog.`$table` AS t USING $srcView AS src
           |ON t.c_custkey = src.c_custkey
           |WHEN MATCHED AND t.c_acctbal < 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + 1000.0
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)           // v2
      TxLog.read(s, table)
    },

    // MERGE … WHEN NOT MATCHED BY SOURCE (Delta's full-sync tier): the
    // one merge family whose clause membership can't be bounded by the
    // source's keys (it fires on ABSENCE of a match), so it pays one
    // column-pruned full-snapshot anti-join scan — the rewrite is still
    // bounded to files a clause fires on. Four clauses: matched rows
    // take the source balance, source-only keys insert, unmatched
    // negative-balance rows delete, other unmatched rows get flagged.
    QueryDef("src_txlog_sql_merge_nmbs",
      "SQL MERGE with WHEN NOT MATCHED BY SOURCE DELETE + UPDATE: full table↔source sync in one commit, post-merge snapshot oracled",
      s"""WITH i AS (SELECT c_custkey, c_name, c_acctbal
         |  FROM read_parquet('${QueryDef.StageSql}/txnmbs_in/*.parquet')),
         |t AS (SELECT * FROM i WHERE c_custkey % 2 = 0),
         |s AS (SELECT * FROM i WHERE c_custkey % 3 = 0)
         |SELECT t.c_custkey, t.c_name, s.c_acctbal + 1.0 AS c_acctbal
         |FROM t JOIN s ON t.c_custkey = s.c_custkey
         |UNION ALL
         |SELECT t.c_custkey, 'unsynced' AS c_name, t.c_acctbal
         |FROM t LEFT JOIN s ON t.c_custkey = s.c_custkey
         |WHERE s.c_custkey IS NULL AND t.c_acctbal >= 0
         |UNION ALL
         |SELECT s.c_custkey, s.c_name, s.c_acctbal
         |FROM s LEFT JOIN t ON s.c_custkey = t.c_custkey
         |WHERE t.c_custkey IS NULL""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txnmbs_in")
      val in = s.read.parquet(s"$stage/txnmbs_in")
      val table = Files.createTempDirectory("graft_txnmbs").toString + "/t"
      TxLog.overwrite(in.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .repartition(4), table)                                       // v1
      val id = java.util.UUID.randomUUID.toString.take(8)
      val srcView = s"txnmbs_src_$id"
      in.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .createOrReplaceTempView(srcView)
      s.sql(
        s"""MERGE INTO txlog.`$table` AS t USING $srcView AS src
           |ON t.c_custkey = src.c_custkey
           |WHEN MATCHED THEN UPDATE SET c_acctbal = src.c_acctbal + 1.0
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND t.c_acctbal < 0 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c_name = 'unsynced'
           |""".stripMargin)                                          // v2
      TxLog.read(s, table)
    },

    // GENERATED-COLUMN PARTITION PRUNING (Delta's rule): the table is
    // partitioned by y GENERATED AS year(ts); the query bounds only ts,
    // and the scan still opens only the matching year directories — the
    // pushed base-column bound derives a partition bound. The build
    // pins the pruning (derived candidate set strictly smaller) and the
    // oracle pins the rows.
    QueryDef("src_txlog_generated_partition_prune",
      "WHERE on a base timestamp prunes a year(ts)-generated partition layout; derived-bound file set pinned, rows oracled",
      s"""SELECT o_orderkey, o_totalprice
         |FROM read_parquet('${QueryDef.StageSql}/txgpp_in/*.parquet')
         |WHERE ts >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND ts < TIMESTAMP '1997-01-01 00:00:00'""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          col("o_orderdate").cast("timestamp").as("ts"),
          col("o_totalprice"))
        .stageInput(dir, "txgpp_in")
      val table = Files.createTempDirectory("graft_txgpp").toString + "/t"
      TxLog.setProperties(table, Map(
        "graft.generated.y" -> "year(ts)",
        "graft.partition.columns" -> "y"))
      TxLog.append(s.read.parquet(s"$stage/txgpp_in").repartition(4), table)
      val (numB, strB) = TxLog.deriveGeneratedPartitionBounds(table, None,
        Map("ts" -> (820454400.0, 852076800.0)), Map.empty) // 1996 bounds
      require(numB.contains("y"), "derivation must bound the partition col")
      val pruned = TxLog.readPruned(s, table, numB, strB)
      require(pruned.inputFiles.length < TxLog.activeFiles(table).size,
        "non-1996 year directories must be pruned")
      // the result rides the PRUNED scan (exact row filter on top —
      // readPruned's contract), so the recorded plan shows the derived
      // file cut, not a full-table scan
      pruned
        .filter(col("ts") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("ts") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_totalprice")
    },

    // BUCKET-TRANSFORM PRUNING (Iceberg's bucket(n, col) partition
    // transform): the table is partitioned by bkt GENERATED AS
    // pmod(hash(c_custkey), 8); the query probes only c_custkey, and the
    // scan still opens only the probed buckets' directories — the
    // equality probe derives the exact bucket driver-side with Spark's
    // own murmur3, the case where hash scatter makes min/max stats
    // useless. The build pins the pruning (surviving files all sit in
    // the derived buckets); the SQL-relation read the entry RETURNS
    // exercises the same derivation end-to-end, and the oracle pins the
    // rows.
    QueryDef("src_txlog_bucket_prune",
      "point lookups on the base column prune a pmod(hash(k), 8)-bucketed layout to the probed buckets; file set pinned, rows oracled",
      s"""SELECT c_custkey, c_name
         |FROM read_parquet('${QueryDef.StageSql}/txbkt_in/*.parquet')
         |WHERE c_custkey IN (42, 101)""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_name")
        .stageInput(dir, "txbkt_in")
      // bucket layouts are append-only here — build once per sf
      val table = Fixtures.immutableTable(dir, "txbkt", 1) { t =>
        TxLog.setProperties(t, Map(
          "graft.generated.bkt" -> "pmod(hash(c_custkey), 8)",
          "graft.partition.columns" -> "bkt"))
        TxLog.append(s.read.parquet(s"$stage/txbkt_in"), t)
      }
      val probes = TxLog.deriveGeneratedEqProbes(table, None,
        Map("c_custkey" -> Seq(42L, 101L)))
      require(probes.contains("bkt"),
        "derivation must probe the bucket column")
      val buckets = probes("bkt").map(b => s"bkt=$b")
      val pruned = TxLog.readPruned(s, table, Map.empty, Map.empty,
        eqProbes = probes)
      require(pruned.inputFiles.length < TxLog.activeFiles(table).size,
        "non-probed bucket directories must be pruned")
      require(pruned.inputFiles.forall(f => buckets.exists(f.contains)),
        "every surviving file sits in a probed bucket")
      // the returned rows ride the SQL relation, whose buildScan runs
      // the identical derivation from the pushed In filter
      s.read.format("graft.sources.txlog").option("path", table).load()
        .filter(col("c_custkey").isin(42L, 101L))
        .select("c_custkey", "c_name")
    },

    // IDEMPOTENT BATCH WRITES (Delta's txnAppId/txnVersion writer
    // options): an orchestrator retry re-runs the whole write — same
    // logical work, same (app, version) — and must apply exactly once.
    // The entry appends through the DataFrame writer, replays the first
    // write verbatim (skipped via the log's replay guard), replays an
    // OLDER version (skipped under the monotone rule), then lands the
    // next version; the oracle pins the exactly-once contents.
    QueryDef("src_txlog_idempotent_write",
      "txnAppId/txnVersion idempotent batch writes: replayed and stale versions skip, next version lands; exactly-once contents oracled",
      s"""SELECT c_custkey, c_name
         |FROM read_parquet('${QueryDef.StageSql}/txidw_in/*.parquet')
         |WHERE c_custkey <= 100""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_name")
        .stageInput(dir, "txidw_in")
      val in = s.read.parquet(s"$stage/txidw_in")
      val table = Files.createTempDirectory("graft_txidw").toString + "/t"
      def put(ver: Long, df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("graft.sources.txlog").option("path", table)
          .option("txnAppId", "ingest").option("txnVersion", ver)
          .mode("append").save()
      val first = in.filter(col("c_custkey") <= 50)
      put(1, first)                                                  // v1
      put(1, first)            // retry: replay guard skips, no commit
      val v1 = TxLog.latestVersion(table).get
      put(2, in.filter(col("c_custkey") > 50 && col("c_custkey") <= 100))
      put(1, in)               // stale version: monotone rule skips
      require(TxLog.latestVersion(table).get == v1 + 1,
        "exactly the two distinct versions may commit")
      TxLog.read(s, table)
    },

    // VACUUM LITE (Delta 3.1): sweep candidates come from the LOG's
    // remove actions, not a recursive directory walk — O(log tail)
    // metadata work where the classic sweep pays O(files on disk), the
    // shape that matters when the table holds 10⁶+ files on an object
    // store. The entry retires two snapshots, sweeps via SQL `VACUUM …
    // LITE`, pins that the retired bytes are gone from disk while the
    // live snapshot reads exactly (the oracle), and that a dry run
    // agreed with the sweep.
    QueryDef("src_txlog_vacuum_lite",
      "VACUUM LITE sweeps log-recorded removes without a directory walk; retired files gone, live snapshot oracled",
      s"""SELECT c_custkey, c_name
         |FROM read_parquet('${QueryDef.StageSql}/txvacl_in/*.parquet')
         |WHERE c_custkey % 3 = 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_name")
        .stageInput(dir, "txvacl_in")
      val in = s.read.parquet(s"$stage/txvacl_in")
      val table = Files.createTempDirectory("graft_txvacl").toString + "/t"
      TxLog.overwrite(in.filter(col("c_custkey") % 2 === 0)
        .repartition(2), table)                                       // v1
      TxLog.overwrite(in.filter(col("c_custkey") % 3 === 0)
        .repartition(2), table)                // v2 retires v1's files
      val retired = TxLog.commits(table).head.add
      val dry = s.sql(s"VACUUM txlog.`$table` LITE RETAIN 1 VERSIONS " +
        "DRY RUN").collect().head.getLong(0)
      val swept = s.sql(s"VACUUM txlog.`$table` LITE RETAIN 1 VERSIONS")
        .collect().head.getLong(0)
      require(dry == swept && swept >= retired.size,
        s"dry run ($dry) must agree with the sweep ($swept) and cover " +
          s"v1's ${retired.size} files")
      require(retired.forall(f =>
        !java.nio.file.Files.exists(java.nio.file.Paths.get(table, f))),
        "retired files must be gone from disk")
      TxLog.read(s, table)
    },

    // LOG COMPACTION: a trickle-written table (one commit per
    // micro-batch — the 100 TB streaming-table steady state) accumulates
    // unbounded loose commit JSONs; with the threshold property set, the
    // cold range auto-consolidates into container files, bounding the
    // log's FILE count while every fold (schema, history, time travel)
    // answers exactly as before. The entry trickles 30 two-row appends
    // beside a bulk base, asserts the container exists and the loose
    // count is bounded, and oracles the full contents.
    QueryDef("src_txlog_log_compaction",
      "Auto log compaction on a trickle-written table: cold commits consolidate, reads unchanged, loose file count bounded",
      s"""SELECT c_custkey, c_name
         |FROM read_parquet('${QueryDef.StageSql}/txlogc_in/*.parquet')
         |WHERE c_custkey <= 60 OR c_custkey % 11 = 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_name")
        .stageInput(dir, "txlogc_in")
      val in = s.read.parquet(s"$stage/txlogc_in")
      // the 31-commit trickle is the catalog's most expensive fixture
      // (the threshold crossing under test needs every one of them);
      // deterministic + read-only afterwards → build once per sf
      val table = Fixtures.immutableTable(dir, "txlogc", 1) { table =>
        TxLog.setProperties(table,
          Map("graft.logCompaction.threshold" -> "25"))
        TxLog.overwrite(in.filter(col("c_custkey") % 11 === 0)
          .filter(col("c_custkey") > 60).repartition(2), table)
        val trickle = in.filter(col("c_custkey") <= 60).orderBy("c_custkey")
          .collect()
        trickle.grouped(2).foreach { rows =>
          TxLog.append(s.createDataFrame(
            java.util.Arrays.asList(rows: _*), in.schema).coalesce(1), table)
        }
      }
      val logDir = java.nio.file.Paths.get(table, "_txlog")
      val names = TxLog.walkDir(logDir).map(_.getFileName.toString)
      require(names.exists(_.endsWith(".compactedlog.json")),
        "trickle past the threshold must have auto-compacted the log")
      require(names.count(_.matches("""\d{20}\.json""")) <= 30,
        "loose commit count must stay bounded")
      TxLog.read(s, table)
    },

    // WRITER AUTO-COMPACTION (Databricks' delta.autoOptimize.autoCompact,
    // synchronous form): once the active files below
    // graft.autoCompact.minFileSize reach graft.autoCompact.minFiles,
    // the post-commit hook folds just those small files into ~targetSize
    // outputs as a layout-only optimize commit. THE small-file answer
    // for trickle writers at 100 TB: scan cost grows with file count,
    // not bytes, and this caps it without an operator remembering
    // OPTIMIZE. The entry trickles 8 single-file appends, asserts the
    // fold fired and bounded the active-file count, and oracles the
    // full surviving contents.
    QueryDef("src_txlog_auto_compact",
      "Writer auto-compaction: small-file fold fires past the threshold, active file count bounded, reads exact",
      s"""SELECT c_custkey, c_name
         |FROM read_parquet('${QueryDef.StageSql}/txautoc_in/*.parquet')
         |WHERE c_custkey <= 24""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_name")
        .filter(col("c_custkey") <= 24)
        .stageInput(dir, "txautoc_in")
      val in = s.read.parquet(s"$stage/txautoc_in")
      // the trickle + fold is deterministic and read-only afterwards →
      // build once per sf (the log_compaction fixture pattern)
      val table = Fixtures.immutableTable(dir, "txautoc", 1) { table =>
        TxLog.setProperties(table, Map(
          "graft.autoCompact.enabled" -> "true",
          "graft.autoCompact.minFileSize" -> (1024L * 1024).toString,
          "graft.autoCompact.minFiles" -> "6"))
        (0 until 8).foreach { i =>
          TxLog.append(in.filter(col("c_custkey") % 8 === i)
            .coalesce(1), table)
        }
      }
      require(TxLog.commits(table).exists(_.op == "optimize"),
        "the trickle past minFiles must have auto-compacted")
      require(TxLog.activeFiles(table).size <= 4,
        s"active file count must stay bounded, " +
          s"got ${TxLog.activeFiles(table).size}")
      TxLog.read(s, table)
    },

    // LOG RETENTION (Delta's logRetentionDuration, floored at the newest
    // full-state checkpoint): expireLog deletes every log file the
    // checkpoint covers — on a year-old streaming table the log stops
    // growing forever. The retained read must answer EXACTLY as before
    // (the checkpoint carries the expired range's complete net effect:
    // schema, properties, file stats, replay guards), below-horizon time
    // travel refuses with the remedy named, and version numbering
    // continues. The oracle recomputes the surviving snapshot.
    QueryDef("src_txlog_log_retention",
      "expireLog below the newest full-state checkpoint: retained reads exact, below-horizon time travel refuses, versions continue",
      s"""SELECT c_custkey, c_name
         |FROM read_parquet('${QueryDef.StageSql}/txlret_in/*.parquet')
         |WHERE c_custkey <= 40""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_name")
        .filter(col("c_custkey") <= 40)
        .stageInput(dir, "txlret_in")
      val in = s.read.parquet(s"$stage/txlret_in")
      // expireLog MUTATES the log — fresh table per run, never cached
      val table = Files.createTempDirectory("graft_txlret").toString + "/t"
      TxLog.overwrite(in.filter(col("c_custkey") <= 20)
        .repartition(2), table)                                  // v1
      TxLog.append(in.filter(col("c_custkey") > 20 && col("c_custkey") <= 30)
        .coalesce(1), table)                                     // v2
      TxLog.compact(table)       // full-state checkpoint at v2 = the floor
      TxLog.append(in.filter(col("c_custkey") > 30).coalesce(1), table) // v3
      val h = TxLog.expireLog(table)
        .getOrElse(sys.error("expireLog must find the checkpoint floor"))
      require(h >= 2L, s"horizon must sit at the checkpoint, got $h")
      // v3 (the tail append) survives; expiry may add one data-less
      // protocol-floor commit above it — numbering continues either way
      require(TxLog.latestVersion(table).exists(_ >= 3L),
        "version numbering must survive expiry")
      val refused =
        try { TxLog.read(s, table, Some(h - 1)).count(); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("log-retention horizon") }
      require(refused, "below-horizon time travel must refuse with remedy")
      TxLog.read(s, table)
    },

    // MULTI-PART CHECKPOINTS (Delta's `<v>.checkpoint.<i>.<n>` split) +
    // the `_last_checkpoint` pointer: past graft.checkpoint.partMaxFiles
    // active files the full-state checkpoint splits into parts — part 1
    // carries the scalar state, every part a disjoint file slice with
    // its file-keyed maps. At 10^6 active files the single-JSON form is
    // a ~90 MB driver write; parts bound it, and a set is readable only
    // when EVERY part is present (a crash mid-publish is invisible, not
    // torn). The entry builds a table past the split threshold, expires
    // the log below the multi-part floor (the v8 stamp — a v7 reader's
    // listing can't see part files), and oracles the surviving snapshot.
    QueryDef("src_txlog_multipart_checkpoint",
      "Multi-part full-state checkpoint: split past partMaxFiles, _last_checkpoint pointer, retention floored on the set, reads exact",
      s"""SELECT c_custkey, c_name
         |FROM read_parquet('${QueryDef.StageSql}/txmpc_in/*.parquet')
         |WHERE c_custkey <= 36""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_name")
        .filter(col("c_custkey") <= 36)
        .stageInput(dir, "txmpc_in")
      val in = s.read.parquet(s"$stage/txmpc_in")
      // expireLog MUTATES the log — fresh table per run, never cached
      val table = Files.createTempDirectory("graft_txmpc").toString + "/t"
      TxLog.setProperties(table,
        Map("graft.checkpoint.partMaxFiles" -> "3"))
      (0 until 6).foreach { i => // 6 single-file commits → 6 active files
        TxLog.append(in.filter(col("c_custkey") <= 30)
          .filter(col("c_custkey") % 6 === i).coalesce(1), table)
      }
      TxLog.compact(table) // splits: 6 files / 3 per part = 2 parts
      TxLog.append(in.filter(col("c_custkey") > 30).coalesce(1), table)
      val logDir = java.nio.file.Paths.get(table, "_txlog")
      val parts = TxLog.walkDir(logDir).map(_.getFileName.toString)
        .filter(_.matches("""\d{20}\.checkpoint\.\d{10}\.\d{10}\.json"""))
      require(parts.size >= 2,
        s"checkpoint must split past partMaxFiles, got $parts")
      val ptr = TxLog.lastCheckpoint(table)
        .getOrElse(sys.error("_last_checkpoint must be published"))
      require(ptr._2 == parts.size,
        s"pointer must record the part count: $ptr vs ${parts.size}")
      val h = TxLog.expireLog(table)
        .getOrElse(sys.error("expireLog must floor on the multi-part set"))
      require(TxLog.commits(table).exists(c =>
        c.version > h && c.minReader >= 8),
        "expiry below a multi-part floor must stamp the v8 protocol")
      TxLog.read(s, table)
    },

    // DAY-2 AUTO-MAINTENANCE, COMPOSED: one trickle-written table with
    // all four auto properties — auto-compaction (small files fold),
    // auto-checkpoint (bounded log replay), auto log retention (the log
    // itself stays bounded forever), auto-manifest (external readers
    // always fresh). The zero-operator steady state a perpetual 100 TB
    // streaming table actually runs in; the entry requires every bound
    // and oracles the full contents.
    QueryDef("src_txlog_day2_lifecycle",
      "All four auto-maintenance properties on one trickle-written table: files, log, and manifests bounded with zero operators, reads exact",
      s"""SELECT c_custkey, c_name
         |FROM read_parquet('${QueryDef.StageSql}/txday2_in/*.parquet')
         |WHERE c_custkey <= 48""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_name")
        .filter(col("c_custkey") <= 48)
        .stageInput(dir, "txday2_in")
      val in = s.read.parquet(s"$stage/txday2_in")
      // retention + compaction mutate the log — fresh table per run
      val table = Files.createTempDirectory("graft_txday2").toString + "/t"
      TxLog.setProperties(table, Map(
        "graft.autoCompact.enabled" -> "true",
        "graft.autoCompact.minFileSize" -> (1024L * 1024).toString,
        "graft.autoCompact.minFiles" -> "6",
        "graft.checkpoint.interval" -> "8",
        "graft.logRetention.auto" -> "true",
        "graft.manifest.auto" -> "true"))
      (0 until 24).foreach { i =>
        TxLog.append(in.filter(col("c_custkey") % 24 === i)
          .coalesce(1), table)
      }
      require(TxLog.activeFiles(table).size <= 8,
        s"auto-compaction must bound the active files, " +
          s"got ${TxLog.activeFiles(table).size}")
      val logNames = TxLog.walkDir(
        java.nio.file.Paths.get(table, "_txlog"))
        .map(_.getFileName.toString)
      require(logNames.count(_.matches("""\d{20}\.json""")) <= 20,
        s"auto retention must bound the loose commit count")
      require(TxLog.retentionHorizon(table).exists(_ > 1L),
        "the retention horizon must have advanced off version 1")
      // the auto-manifest tracks every commit: an external reader over
      // the manifest paths sees the exact snapshot, zero log knowledge
      val manifests = TxLog.walkDir(java.nio.file.Paths.get(table,
        "_symlink_format_manifest"))
        .filter(_.getFileName.toString == "manifest")
      val paths = manifests.flatMap(p =>
        new String(Files.readAllBytes(p)).split("\n")).filter(_.nonEmpty)
      require(paths.nonEmpty, "auto-manifest must have been generated")
      val external = s.read.parquet(paths: _*)
      require(external.count() == TxLog.read(s, table).count(),
        "the auto-manifest must be FRESH — external == snapshot")
      TxLog.read(s, table)
    },

    // GENERATE symlink_format_manifest (Delta's external-engine interop):
    // text manifests of absolute active-file paths — an engine that
    // understands none of the log (Presto/Trino/Athena/DuckDB) reads the
    // exact snapshot through them. The entry builds a table across
    // appends + a delete (copy-on-write so no DVs remain), generates,
    // then reads the data back as PLAIN PARQUET over the manifest's
    // paths — zero TxLog calls on the read side, which is the contract.
    QueryDef("src_txlog_sql_generate",
      "GENERATE symlink_format_manifest: external engines read the exact snapshot as plain parquet over the manifest paths",
      s"""SELECT c_custkey, c_name
         |FROM read_parquet('${QueryDef.StageSql}/txgen_in/*.parquet')
         |WHERE c_custkey <= 40 AND c_custkey % 7 != 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_name")
        .filter(col("c_custkey") <= 40)
        .stageInput(dir, "txgen_in")
      val in = s.read.parquet(s"$stage/txgen_in")
      // GENERATE rewrites the manifest tree — fresh table per run
      val table = Files.createTempDirectory("graft_txgen").toString + "/t"
      TxLog.overwrite(in.filter(col("c_custkey") <= 20).repartition(2),
        table)
      TxLog.append(in.filter(col("c_custkey") > 20).coalesce(1), table)
      TxLog.delete(s, table, col("c_custkey") % 7 === 0) // copy-on-write
      s.sql(s"GENERATE symlink_format_manifest FOR TABLE txlog.`$table`")
      val manifests = TxLog.walkDir(
        java.nio.file.Paths.get(table, "_symlink_format_manifest"))
        .filter(_.getFileName.toString == "manifest")
      val paths = manifests.flatMap(p =>
        new String(Files.readAllBytes(p)).split("\n")).filter(_.nonEmpty)
      require(paths.nonEmpty && paths.forall(_.startsWith("/")),
        "manifest must list absolute data-file paths")
      // the external-reader contract: plain parquet, no log knowledge
      s.read.parquet(paths: _*)
    },

    // ANALYZE TABLE over a txlog path: table/column statistics persist
    // as graft.analyze.* properties in ONE commit — they version and
    // time-travel with the table, and any engine reads them via SHOW
    // TBLPROPERTIES. Row count / null count / min / max are EXACT (the
    // oracle recomputes them); NDV is HLL-approx (the Spark/Delta
    // production choice at 100 TB — exact distinct is a full shuffle),
    // gated in-entry at ±15% of exact.
    QueryDef("src_txlog_sql_analyze",
      "ANALYZE TABLE COMPUTE STATISTICS on a txlog path: exact table/column stats recorded as one versioned commit",
      s"""WITH i AS (SELECT c_custkey, c_name
         |  FROM read_parquet('${QueryDef.StageSql}/txanlz_in/*.parquet')),
         |b AS (SELECT MIN(c_custkey) AS lo, MAX(c_custkey) AS hi FROM i)
         |SELECT 'rowCount' AS stat, CAST(COUNT(*) AS VARCHAR) AS value FROM i
         |UNION ALL
         |SELECT 'c_custkey.nullCount',
         |  CAST(CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS VARCHAR) FROM i
         |UNION ALL
         |SELECT 'c_custkey.min', CAST(MIN(c_custkey) AS VARCHAR) FROM i
         |UNION ALL
         |SELECT 'c_custkey.max', CAST(MAX(c_custkey) AS VARCHAR) FROM i
         |UNION ALL
         |SELECT 'c_custkey.hist.' || CAST(bk AS VARCHAR),
         |  CAST(CAST(COUNT(*) AS BIGINT) AS VARCHAR)
         |FROM (SELECT LEAST(7, GREATEST(0, CAST(FLOOR(
         |        ((i.c_custkey - b.lo) * 8) / (b.hi - b.lo)) AS INT))) AS bk
         |      FROM i, b WHERE i.c_custkey IS NOT NULL)
         |GROUP BY bk""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_name")
        .stageInput(dir, "txanlz_in")
      val in = s.read.parquet(s"$stage/txanlz_in")
      // ANALYZE commits properties — fresh table per run
      val table = Files.createTempDirectory("graft_txanlz").toString + "/t"
      TxLog.overwrite(in.repartition(2), table)
      TxLog.setProperties(table,
        Map("graft.analyze.histogramBuckets" -> "8"))
      s.sql(s"ANALYZE TABLE txlog.`$table` COMPUTE STATISTICS " +
        "FOR COLUMNS c_custkey").collect()
      val p = TxLog.properties(table)
      val exactNdv = in.select(countDistinct(col("c_custkey")))
        .collect()(0).getLong(0)
      val ndv = p("graft.analyze.col.c_custkey.ndv").toLong
      require(math.abs(ndv - exactNdv).toDouble / exactNdv <= 0.15,
        s"approx NDV must sit within 15% of exact: $ndv vs $exactNdv")
      // the recorded equi-width histogram, emitted as (bucket, count)
      // rows — the deterministic IEEE bucket formula lets DuckDB
      // recompute the exact same counts (min/max are stringified
      // integers here, so the double arithmetic is exact cross-engine)
      val hist = p("graft.analyze.col.c_custkey.hist")
      val histRows = hist.split('|')(1).split(',').zipWithIndex
        .filter(_._1.toLong > 0L)
        .map { case (cnt, b) => (s"c_custkey.hist.$b", cnt) }.toSeq
      import s.implicits._
      (Seq(
        ("rowCount", p("graft.analyze.rowCount")),
        ("c_custkey.nullCount", p("graft.analyze.col.c_custkey.nullCount")),
        ("c_custkey.min", p("graft.analyze.col.c_custkey.min")),
        ("c_custkey.max", p("graft.analyze.col.c_custkey.max")))
        ++ histRows)
        .toDF("stat", "value")
    },

    // COLUMN DEFAULT VALUES (Delta's column defaults): ALTER COLUMN …
    // SET DEFAULT makes a SQL INSERT that OMITS the column fill the
    // default instead of NULL — write-time only, existing rows
    // untouched, stored as a versioned property. The entry seeds rows,
    // declares a default, inserts with a column list, drops the default
    // and inserts again; the oracle recomputes all three eras.
    QueryDef("src_txlog_sql_default",
      "ALTER COLUMN SET DEFAULT: omitted insert columns fill the declared default, existing rows and post-DROP inserts do not",
      s"""WITH i AS (SELECT c_custkey, c_name
         |  FROM read_parquet('${QueryDef.StageSql}/txdef_in/*.parquet'))
         |SELECT c_custkey, c_name, 'legacy' AS tier FROM i
         |WHERE c_custkey <= 10
         |UNION ALL
         |SELECT c_custkey, c_name, 'bronze' AS tier FROM i
         |WHERE c_custkey > 10 AND c_custkey <= 20
         |UNION ALL
         |SELECT c_custkey, c_name, CAST(NULL AS VARCHAR) AS tier FROM i
         |WHERE c_custkey > 20 AND c_custkey <= 30""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_name")
        .filter(col("c_custkey") <= 30)
        .stageInput(dir, "txdef_in")
      val in = s.read.parquet(s"$stage/txdef_in")
      val table = Files.createTempDirectory("graft_txdef").toString + "/t"
      TxLog.overwrite(in.filter(col("c_custkey") <= 10)
        .withColumn("tier", lit("legacy")), table)
      s.sql(s"ALTER TABLE txlog.`$table` ALTER COLUMN tier " +
        "SET DEFAULT 'bronze'")
      in.filter(col("c_custkey") > 10 && col("c_custkey") <= 20)
        .createOrReplaceTempView("txdef_era2")
      s.sql(s"INSERT INTO txlog.`$table` (c_custkey, c_name) " +
        "SELECT c_custkey, c_name FROM txdef_era2")
      s.sql(s"ALTER TABLE txlog.`$table` ALTER COLUMN tier DROP DEFAULT")
      in.filter(col("c_custkey") > 20).createOrReplaceTempView("txdef_era3")
      s.sql(s"INSERT INTO txlog.`$table` (c_custkey, c_name) " +
        "SELECT c_custkey, c_name FROM txdef_era3")
      TxLog.read(s, table)
    },

    // CLUSTERING-AWARE INCREMENTAL OPTIMIZE (the liquid-clustering
    // maintenance shape): on a graft.cluster.columns table, plain
    // OPTIMIZE rewrites ONLY files written since the last OPTIMIZE;
    // already-clustered big files stay byte-identical and an immediate
    // re-run is a no-op. Nightly maintenance cost follows the NEW data,
    // not the table — at 100 TB, the full re-sort is the operation that
    // cannot ship. The entry clusters, appends a second era, re-OPTIMIZEs
    // (must not touch era-1's clustered files), and oracles the union.
    QueryDef("src_txlog_sql_optimize_incr",
      "Plain OPTIMIZE on a clustered table is incremental: new files rewrite, clustered files untouched, re-run is a no-op",
      s"""WITH i AS (SELECT o_orderkey, o_totalprice
         |  FROM read_parquet('${QueryDef.StageSql}/txoinc_in/*.parquet'))
         |SELECT o_orderkey, o_totalprice FROM i
         |UNION ALL
         |SELECT o_orderkey + 1000000, o_totalprice FROM i
         |WHERE o_orderkey % 2 = 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(col("o_orderkey") <= 2000)
        .stageInput(dir, "txoinc_in")
      val in = s.read.parquet(s"$stage/txoinc_in")
      val table = Files.createTempDirectory("graft_txoinc").toString + "/t"
      TxLog.setProperties(table, Map("graft.cluster.columns" -> "o_orderkey",
        "graft.stats.columns" -> "o_orderkey"))
      TxLog.append(in.filter(col("o_orderkey") % 2 === 0).coalesce(2), table)
      TxLog.append(in.filter(col("o_orderkey") % 2 === 1).coalesce(2), table)
      // minFileSizeBytes = 0 pins the CUBE rule at toy scale (at the
      // production default, small optimize outputs deliberately re-fold
      // until they reach target size — the cube-merge path)
      val v1 = TxLog.optimizeIncremental(s, table, minFileSizeBytes = 0L,
        targetBytes = Some(512L * 1024)).getOrElse(
        sys.error("unclustered eras must rewrite"))
      val clustered = TxLog.activeFiles(table).toSet
      require(TxLog.optimizeIncremental(s, table,
        minFileSizeBytes = 0L).isEmpty,
        "an immediate re-run must be a no-op on a clustered table")
      require(TxLog.latestVersion(table).contains(v1), "no-op must not commit")
      // a new era lands (2 files); the next run must not touch era-1
      TxLog.append(in.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
        .repartition(2), table)
      val v2 = TxLog.optimizeIncremental(s, table, minFileSizeBytes = 0L,
        targetBytes = Some(512L * 1024)).getOrElse(
        sys.error("the new era must rewrite"))
      val c = TxLog.commits(table).find(_.version == v2).get
      require(c.remove.toSet.intersect(clustered).isEmpty,
        "incremental OPTIMIZE must leave already-clustered files untouched")
      // the SQL verb drives the same path (may also fold small outputs)
      s.sql(s"OPTIMIZE txlog.`$table`").collect()
      TxLog.read(s, table)
    },

    // PARTITION SPEC EVOLUTION (Iceberg's table feature, absent from
    // Delta): repartition a live table with ONE metadata commit and zero
    // data rewritten — at 100 TB the difference between an ALTER and a
    // full rewrite. The entry takes a flat orders table, declares
    // year-partitioning mid-life, appends a second era in Hive layout,
    // and reads the mixed-era union back; the oracle recomputes both
    // eras declaratively.
    QueryDef("src_txlog_partition_evolution",
      "ALTER TABLE SET PARTITIONED BY on a live table: metadata-only layout change, mixed-era read, per-era pruning",
      s"""WITH i AS (SELECT o_orderkey, o_year, o_totalprice
         |  FROM read_parquet('${QueryDef.StageSql}/txpse_in/*.parquet'))
         |SELECT o_orderkey, o_year, o_totalprice FROM i
         |WHERE o_orderkey % 2 = 0
         |UNION ALL
         |SELECT o_orderkey + 100000000, o_year, o_totalprice FROM i
         |WHERE o_orderkey % 2 = 1""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("int").as("o_year"),
          col("o_totalprice"))
        .stageInput(dir, "txpse_in")
      val in = s.read.parquet(s"$stage/txpse_in")
      val table = Files.createTempDirectory("graft_txpse").toString + "/t"
      TxLog.overwrite(in.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .repartition(4), table)                                  // v1 flat
      s.sql(s"ALTER TABLE txlog.`$table` SET PARTITIONED BY (o_year)") // v2
      require(TxLog.commits(table).last.add.isEmpty,
        "partition evolution must rewrite nothing")
      TxLog.append(in.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L), table)
      require(TxLog.activeFiles(table).exists(_.contains("o_year=")) &&
        TxLog.activeFiles(table).exists(!_.contains("o_year=")),
        "both layout eras must be live")
      TxLog.read(s, table)
    },

    // The full partition-lifecycle: evolve a flat table to year
    // partitioning (metadata-only), migrate ONLY the legacy era into
    // the layout (migrateLayout — current-layout files byte-untouched),
    // then dynamically REPLACE one year's partition. The oracle
    // recomputes the three-phase end state declaratively.
    QueryDef("src_txlog_layout_migration",
      "evolution → bounded migrateLayout → dynamic partition overwrite: legacy era rewritten alone, one year replaced, snapshot oracled",
      s"""WITH i AS (SELECT o_orderkey, o_year, o_totalprice
         |  FROM read_parquet('${QueryDef.StageSql}/txlmig_in/*.parquet'))
         |SELECT o_orderkey, o_year, o_totalprice FROM i
         |WHERE o_orderkey % 3 IN (0, 1) AND o_year <> 1995
         |UNION ALL
         |SELECT o_orderkey + 500000000, o_year, o_totalprice FROM i
         |WHERE o_orderkey % 3 = 2 AND o_year = 1995""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("int").as("o_year"),
          col("o_totalprice"))
        .stageInput(dir, "txlmig_in")
      val in = s.read.parquet(s"$stage/txlmig_in")
      val table = Files.createTempDirectory("graft_txlmig").toString + "/t"
      TxLog.overwrite(in.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .repartition(4), table)                                  // v1 flat
      s.sql(s"ALTER TABLE txlog.`$table` SET PARTITIONED BY (o_year)")
      TxLog.append(in.filter(pmod(col("o_orderkey"), lit(3)) === 1), table)
      val newEra = TxLog.activeFiles(table).filter(_.contains("o_year="))
      require(TxLog.migrateLayout(s, table).nonEmpty, "legacy era exists")
      require(newEra.forall(TxLog.activeFiles(table).contains),
        "migration must not rewrite current-layout files")
      require(TxLog.activeFiles(table).forall(_.contains("o_year=")),
        "post-migration layout must be uniform")
      require(TxLog.migrateLayout(s, table).isEmpty, "second call no-ops")
      TxLog.overwritePartitions(
        in.filter(pmod(col("o_orderkey"), lit(3)) === 2 &&
          col("o_year") === 1995)
          .withColumn("o_orderkey", col("o_orderkey") + 500000000L), table)
      TxLog.read(s, table)
    },

    // TRUNCATE TABLE: empties the table in ONE commit (the unconditional
    // row delete — no data written, every file retired), schema and
    // history intact: the build re-reads the pre-truncate version to
    // prove time travel still serves it, then refills.
    QueryDef("src_txlog_sql_truncate",
      "SQL TRUNCATE TABLE then refill: one emptying commit, schema kept, pre-truncate version still time-travelable",
      s"""SELECT c_custkey, c_name
         |FROM read_parquet('${QueryDef.StageSql}/txtrunc_in/*.parquet')
         |WHERE c_custkey % 4 = 1""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_name")
        .stageInput(dir, "txtrunc_in")
      val in = s.read.parquet(s"$stage/txtrunc_in")
      val table = Files.createTempDirectory("graft_txtrunc").toString + "/t"
      TxLog.overwrite(in.repartition(4), table)                       // v1
      val rows = in.count()
      val v = s.sql(s"TRUNCATE TABLE txlog.`$table`").head.getLong(0) // v2
      require(TxLog.read(s, table).count() == 0, "truncate must empty")
      require(TxLog.read(s, table, Some(v - 1)).count() == rows,
        "pre-truncate version must stay time-travelable")
      TxLog.append(in.filter(pmod(col("c_custkey"), lit(4)) === 1), table)
      TxLog.read(s, table)
    },

    // SQL UPDATE + DELETE (src_txlog_dml's verbs through the parser
    // instead of the API — both lower onto the same copy-on-write, so
    // the log shapes are identical; SqlDmlSpec pins that equivalence).
    QueryDef("src_txlog_sql_update_delete",
      "SQL DELETE WHERE then UPDATE SET WHERE on a txlog table via the parser extension; final snapshot oracled",
      s"""SELECT c_custkey, c_name,
         |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
         |       ELSE c_acctbal END AS c_acctbal
         |FROM read_parquet('${QueryDef.StageSql}/txsqldml_in/*.parquet')
         |WHERE c_custkey % 5 <> 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txsqldml_in")
      val table = Files.createTempDirectory("graft_txsqldml").toString + "/t"
      TxLog.overwrite(s.read.parquet(s"$stage/txsqldml_in")
        .repartition(6), table)                                       // v1
      s.sql(s"DELETE FROM txlog.`$table` WHERE c_custkey % 5 = 0")    // v2
      s.sql(s"""UPDATE txlog.`$table` SET c_acctbal = c_acctbal + 100.0
               |WHERE c_custkey % 7 = 0""".stripMargin)               // v3
      TxLog.read(s, table)
    },

    // SQL OPTIMIZE … ZORDER BY: full-snapshot re-cluster along a Morton
    // curve over (o_custkey, o_totalprice) — contents byte-identical
    // (the oracle), but every output file now covers a tight min/max BOX
    // in both dimensions, so the re-recorded stats prune range reads on
    // EITHER column (pruned-file-count proof pinned in SqlDmlSpec /
    // PERF.md; a lexicographic sort only prunes the leading column).
    QueryDef("src_txlog_sql_optimize_zorder",
      "SQL OPTIMIZE ZORDER BY (o_custkey, o_totalprice): clustered rewrite, contents invariant, stats re-recorded for 2-D skipping",
      s"""SELECT o_orderkey, o_custkey, o_totalprice
         |FROM read_parquet('${QueryDef.StageSql}/txsqlzo_in/*.parquet')""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .stageInput(dir, "txsqlzo_in")
      val table = Files.createTempDirectory("graft_txsqlzo").toString + "/t"
      TxLog.setProperties(table,
        Map("graft.stats.columns" -> "o_custkey,o_totalprice"))
      TxLog.append(s.read.parquet(s"$stage/txsqlzo_in")
        .repartition(8), table)                                       // v1
      s.sql(s"""OPTIMIZE txlog.`$table`
               |ZORDER BY (o_custkey, o_totalprice)""".stripMargin)   // v2
      require(TxLog.commits(table).last.op == "optimize",
        "SQL OPTIMIZE must land an optimize commit")
      TxLog.read(s, table)
    },

    // SQL TIMESTAMP AS OF (the timestampAsOf view option — Delta's
    // `TIMESTAMP AS OF` surfaced through CREATE TEMPORARY VIEW … USING):
    // two views pin the commit timestamps of v1 and v2; each resolves to
    // the newest commit at-or-before its stamp, so the same table yields
    // two distinct row sets side by side. The writer waits out the
    // millisecond clock between commits (the TxLog.scala clock-skew
    // caveat: timestamps order commits only as well as the clock does).
    QueryDef("src_txlog_sql_time_travel_ts",
      "SQL time travel by timestamp: temp views pin timestampAsOf of v1 and v2; stamp 1 sees only v1 rows, stamp 2 sees both",
      """SELECT CAST(1 AS BIGINT) AS stamp, c_custkey, c_name
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS stamp, c_custkey, c_name
        |FROM customer""".stripMargin) { (s, dir) =>
      val t = Files.createTempDirectory("graft_txttts").toString + "/t"
      val cust = Tables.load(s, dir, "customer").select("c_custkey", "c_name")
      TxLog.append(cust.filter(pmod(col("c_custkey"), lit(2)) === 0), t) // v1
      val ts1 = TxLog.commits(t).last.ts
      // commit timestamps have millisecond resolution: v2 must land on a
      // LATER millisecond or timestampAsOf(ts1) would resolve to it
      while (System.currentTimeMillis() <= ts1) Thread.sleep(2)
      TxLog.append(cust.filter(pmod(col("c_custkey"), lit(2)) === 1), t) // v2
      val ts2 = TxLog.commits(t).last.ts
      val id = java.util.UUID.randomUUID.toString.take(8)
      val (v1, v2) = (s"txttts_v1_$id", s"txttts_v2_$id")
      s.sql(s"""CREATE TEMPORARY VIEW $v1 USING graft.sources.txlog
               |OPTIONS (path '$t', timestampAsOf '$ts1')""".stripMargin)
      s.sql(s"""CREATE TEMPORARY VIEW $v2 USING graft.sources.txlog
               |OPTIONS (path '$t', timestampAsOf '$ts2')""".stripMargin)
      s.sql(s"""SELECT CAST(1 AS BIGINT) AS stamp, c_custkey, c_name FROM $v1
               |UNION ALL
               |SELECT CAST(2 AS BIGINT) AS stamp, c_custkey, c_name FROM $v2
               |""".stripMargin)
    },

    // CONVERT TO TXLOG (Delta's CONVERT TO DELTA): an existing plain
    // parquet directory becomes a txlog table IN PLACE with zero bytes
    // copied (hard-linked into canonical staging), then immediately has
    // the full ACID surface — the SQL DELETE here lands a copy-on-write
    // commit on the CONVERTED table while the original files keep
    // serving legacy readers all 100% of rows. The oracle recomputes
    // the post-delete snapshot from the staged (original) input.
    QueryDef("src_txlog_sql_convert",
      "CONVERT TO TXLOG: zero-copy in-place conversion of a parquet dir, then SQL DELETE on the converted table; snapshot oracled",
      s"""SELECT c_custkey, c_name, c_acctbal
         |FROM read_parquet('${QueryDef.StageSql}/txconv_in/*.parquet')
         |WHERE c_custkey % 9 <> 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txconv_in")
      val table = Files.createTempDirectory("graft_txconv").toString
      // the pre-existing plain-parquet directory a team already has
      s.read.parquet(s"$stage/txconv_in").repartition(4)
        .write.mode("overwrite").parquet(table)
      s.sql(s"CONVERT TO TXLOG parquet.`$table`")                     // v1
      s.sql(s"DELETE FROM txlog.`$table` WHERE c_custkey % 9 = 0")    // v2
      TxLog.read(s, table)
    },

    // COLUMN MAPPING (Delta's columnMapping.mode=name): RENAME and DROP
    // COLUMN as metadata-only commits over frozen PHYSICAL names — zero
    // data files rewritten (asserted below), and the drop/re-add of
    // c_acctbal pins the NO-RESURRECTION rule: the re-added logical name
    // binds a FRESH physical name, so pre-drop balances read NULL (the
    // oracle's CASE arm), while post-re-add appends and SQL UPDATEs land
    // real values. The whole lifecycle runs through SQL.
    QueryDef("src_txlog_column_mapping",
      "column mapping lifecycle: enable, RENAME COLUMN, DROP + re-ADD (no resurrection), evolved append, UPDATE on the renamed shape",
      s"""SELECT c_custkey, c_name AS cust_name,
         |  CASE WHEN c_custkey % 10 = 0 THEN -1.0
         |       WHEN c_custkey % 3 <> 0 THEN NULL
         |       ELSE c_acctbal END AS c_acctbal
         |FROM read_parquet('${QueryDef.StageSql}/txcolmap_in/*.parquet')""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txcolmap_in")
      val table = Files.createTempDirectory("graft_txcolmap").toString + "/t"
      val in = s.read.parquet(s"$stage/txcolmap_in")
      TxLog.append(in.filter(pmod(col("c_custkey"), lit(3)) =!= 0)
        .repartition(4), table)                                       // v1
      val filesBefore = TxLog.activeFiles(table)
      s.sql(s"ALTER TABLE txlog.`$table` SET TBLPROPERTIES " +
        "('graft.columnMapping.mode'='name')")                        // v2
      s.sql(s"ALTER TABLE txlog.`$table` RENAME COLUMN c_name TO cust_name") // v3
      s.sql(s"ALTER TABLE txlog.`$table` DROP COLUMN c_acctbal")      // v4
      s.sql(s"ALTER TABLE txlog.`$table` ADD COLUMN c_acctbal DOUBLE") // v5
      require(TxLog.activeFiles(table) == filesBefore,
        "column-mapping DDL must not rewrite any data file")
      TxLog.append(in.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .withColumnRenamed("c_name", "cust_name"), table)             // v6
      s.sql(s"""UPDATE txlog.`$table` SET c_acctbal = -1.0
               |WHERE c_custkey % 10 = 0""".stripMargin)              // v7
      TxLog.read(s, table)
    },

    // COLUMN MAPPING × PARTITIONED TABLES: partition directories carry
    // the frozen PHYSICAL name, so a RENAME of the partition column is
    // metadata-only (zero files rewritten — asserted), the declared
    // `graft.partition.columns` property follows the logical name in
    // the SAME commit, and partition-path pruning plus dynamic
    // partition overwrite keep keying on the unchanged physical paths.
    // The oracle recomputes untouched years ∪ the re-derived 1997.
    QueryDef("src_txlog_colmap_partitioned",
      "column mapping on a partitioned table: RENAME of the partition column is metadata-only; dynamic partition overwrite on the renamed shape",
      """SELECT o_orderkey, o_totalprice, o_yr FROM (
        |  SELECT o_orderkey, o_totalprice,
        |         CAST(YEAR(o_orderdate) AS INT) AS o_yr FROM orders)
        |WHERE o_yr <> 1997
        |UNION ALL
        |SELECT o_orderkey, o_totalprice + 50.0 AS o_totalprice,
        |       CAST(YEAR(o_orderdate) AS INT) AS o_yr
        |FROM orders WHERE CAST(YEAR(o_orderdate) AS INT) = 1997""".stripMargin) { (s, dir) =>
      val table = Files.createTempDirectory("graft_txcmpart").toString + "/t"
      TxLog.setProperties(table, Map("graft.partition.columns" -> "o_year"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          year(col("o_orderdate")).alias("o_year"))
      TxLog.append(ord, table)                                        // v2
      val filesBefore = TxLog.activeFiles(table)
      s.sql(s"ALTER TABLE txlog.`$table` SET TBLPROPERTIES " +
        "('graft.columnMapping.mode'='name')")                        // v3
      s.sql(s"ALTER TABLE txlog.`$table` RENAME COLUMN o_year TO o_yr") // v4
      require(TxLog.activeFiles(table) == filesBefore,
        "partition-column rename must not rewrite any data file")
      require(TxLog.declaredPartitionCols(table) == Seq("o_yr"),
        "declared partition property must follow the rename")
      // the 1997 backfill on the RENAMED shape: tuple matching keys on
      // the frozen physical `o_year=` path segments
      TxLog.overwritePartitions(
        ord.filter(col("o_year") === 1997)
          .withColumnRenamed("o_year", "o_yr")
          .withColumn("o_totalprice", col("o_totalprice") + 50.0),
        table)                                                        // v5
      TxLog.read(s, table)
    },

    // IDENTITY COLUMNS (Delta's GENERATED ALWAYS AS IDENTITY) on the
    // row-tracking substrate: the value READS as start + step * row_id
    // (commit-allocated, stable, never reused) — fresh appends store
    // NOTHING for the column, dense per-commit allocation, and the SQL
    // UPDATE proves stability (identities don't move under a rewrite).
    // Deterministic because each append is one sorted file: identities
    // equal row_number() in custkey order per slice — which is exactly
    // what the oracle recomputes.
    QueryDef("src_txlog_identity",
      "identity column: commit-allocated dense values via row ids, stable under UPDATE, GENERATED ALWAYS outside INSERT arity",
      """WITH a AS (SELECT c_custkey, c_name,
        |    ROW_NUMBER() OVER (ORDER BY c_custkey) AS rid
        |  FROM customer WHERE c_custkey % 2 = 0),
        |b AS (SELECT c_custkey, c_name,
        |    (SELECT COUNT(*) FROM a) + ROW_NUMBER() OVER (ORDER BY c_custkey) AS rid
        |  FROM customer WHERE c_custkey % 2 = 1)
        |SELECT c_custkey,
        |  CASE WHEN c_custkey % 10 = 0 THEN 'X' ELSE c_name END AS c_name,
        |  CAST(rid AS BIGINT) AS row_id
        |FROM (SELECT * FROM a UNION ALL SELECT * FROM b)""".stripMargin) { (s, dir) =>
      val table = Files.createTempDirectory("graft_txident").toString + "/t"
      TxLog.createTable(table,
        org.apache.spark.sql.types.StructType.fromDDL(
          "c_custkey BIGINT, c_name STRING"))                         // v1
      s.sql(s"ALTER TABLE txlog.`$table` ADD COLUMN row_id BIGINT " +
        "GENERATED ALWAYS AS IDENTITY (START WITH 1 INCREMENT BY 1)")
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").alias("c_custkey"),
          col("c_name"))
      // one sorted file per slice: identity = row_number in custkey order
      TxLog.append(cust.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .coalesce(1).sortWithinPartitions("c_custkey"), table)
      TxLog.append(cust.filter(pmod(col("c_custkey"), lit(2)) === 1)
        .coalesce(1).sortWithinPartitions("c_custkey"), table)
      s.sql(s"UPDATE txlog.`$table` SET c_name = 'X' " +
        "WHERE c_custkey % 10 = 0") // copy-on-write: identities must hold
      TxLog.read(s, table)
    },

    // REORG TABLE APPLY (PURGE): DV deletes materialize into rewritten
    // files and DROPped-column bytes physically leave disk — the
    // logical contents are unchanged (which is exactly what the oracle
    // pins); ReorgPurgeSpec asserts the physical effects.
    QueryDef("src_txlog_sql_reorg",
      "REORG TABLE APPLY (PURGE): DV-deleted rows and dropped-column bytes purged, logical contents unchanged",
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey % 7 <> 0") {
      (s, dir) =>
      val table = Files.createTempDirectory("graft_txreorg").toString + "/t"
      TxLog.setProperties(table,
        Map("graft.deletionVectors.enabled" -> "true"))
      TxLog.append(Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal"), table)
      s.sql(s"DELETE FROM txlog.`$table` WHERE c_custkey % 7 = 0") // DVs
      TxLog.enableColumnMapping(table)
      s.sql(s"ALTER TABLE txlog.`$table` DROP COLUMN c_acctbal")
      s.sql(s"REORG TABLE txlog.`$table` APPLY (PURGE)")
      TxLog.read(s, table)
    },

    // table_changes TVF (Delta's SQL CDF surface): per-commit keyed
    // diffs over an UPDATE then DELETE, stamped _change_type and
    // _commit_version — updates deliver post-images, deletes
    // pre-images, co-located unchanged rows in the rewritten files are
    // filtered by the diff (never spurious updates).
    QueryDef("src_txlog_sql_table_changes",
      "table_changes('t','keys',from,to) TVF: per-commit keyed CDF — update post-images at v2, delete pre-images at v3",
      """SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
        |  'update' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
        |FROM customer WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0
        |       ELSE c_acctbal END,
        |  'delete', CAST(3 AS BIGINT)
        |FROM customer WHERE c_custkey % 7 = 0""".stripMargin) { (s, dir) =>
      val table = Files.createTempDirectory("graft_txtvf").toString + "/t"
      val cust = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      TxLog.append(cust, table)                                       // v1
      s.sql(s"UPDATE txlog.`$table` SET c_acctbal = c_acctbal + 100.0 " +
        "WHERE c_custkey % 10 = 0")                                   // v2
      s.sql(s"DELETE FROM txlog.`$table` WHERE c_custkey % 7 = 0")    // v3
      s.sql("SELECT c_custkey, c_name, c_acctbal, _change_type, " +
        s"_commit_version FROM table_changes('$table', 'c_custkey', 2, 3)")
    },

    // TYPE WIDENING (Delta's ALTER COLUMN TYPE): a metadata-only commit
    // — pre-widen int32 files up-convert at scan under the widened
    // BIGINT schema (no rewrite; the file set is unchanged), post-widen
    // writes exceed the int range to prove the width is real, and a
    // copy-on-write UPDATE mixes rewritten-wide files with original
    // narrow ones in the same snapshot.
    QueryDef("src_txlog_type_widening",
      "ALTER COLUMN TYPE int→bigint: narrow files up-convert at scan, post-widen rows exceed int range, DML rewrites coexist",
      """SELECT CAST(c_custkey AS BIGINT) AS k,
        |  CASE WHEN c_custkey % 10 = 0 THEN 'X' ELSE c_name END AS c_name
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey + 9000000000 AS k, c_name
        |FROM customer WHERE c_custkey % 2 = 1""".stripMargin) { (s, dir) =>
      val table = Files.createTempDirectory("graft_txwiden").toString + "/t"
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").alias("k"), col("c_name"))
      TxLog.append(cust.filter(pmod(col("k"), lit(2)) === 0)
        .withColumn("k", col("k").cast("int")), table)
      s.sql(s"ALTER TABLE txlog.`$table` ALTER COLUMN k TYPE BIGINT")
      TxLog.append(cust.filter(pmod(col("k"), lit(2)) === 1)
        .withColumn("k", col("k") + lit(9000000000L)), table)
      s.sql(s"UPDATE txlog.`$table` SET c_name = 'X' WHERE k % 10 = 0")
      TxLog.read(s, table)
    },

    // COLUMN-LIST CREATE TABLE + SHOW CREATE TABLE round-trip: the full
    // Delta DDL form (NOT NULL, GENERATED ALWAYS AS (expr), IDENTITY,
    // CHECK constraint, PARTITIONED BY) lands in one statement; the
    // SHOW CREATE output re-creates an equivalent table at a second
    // path, and BOTH tables ingest the same rows — the result reads the
    // round-tripped table, so the oracle checks definition fidelity
    // through actual data.
    QueryDef("src_txlog_sql_create_table",
      "column-list CREATE TABLE with NOT NULL/GENERATED/IDENTITY/CHECK, SHOW CREATE TABLE round-trip re-creates it",
      """SELECT c_custkey AS k, c_name AS v, c_custkey * 2 AS k2,
        |  CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT) * 10 AS id,
        |  CAST(c_custkey % 5 AS STRING) AS region
        |FROM customer""".stripMargin) { (s, dir) =>
      val t1 = Files.createTempDirectory("graft_txcreate").toString + "/t1"
      val t2 = Files.createTempDirectory("graft_txcreate").toString + "/t2"
      s.sql(s"""CREATE TABLE txlog.`$t1` (
        |  k BIGINT NOT NULL,
        |  v STRING,
        |  k2 BIGINT GENERATED ALWAYS AS (k * 2),
        |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 10),
        |  region STRING,
        |  CONSTRAINT k_nonneg CHECK (k >= 0)
        |) USING txlog""".stripMargin)
      val ddl = s.sql(s"SHOW CREATE TABLE txlog.`$t1`")
        .collect().head.getString(0)
      s.sql(ddl.replace(s"txlog.`$t1`", s"txlog.`$t2`"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").alias("k"), col("c_name").alias("v"),
          pmod(col("c_custkey"), lit(5)).cast("string").alias("region"))
        // one sorted file: identity = 10 * row_number in custkey order
        .coalesce(1).sortWithinPartitions("k")
      TxLog.append(cust, t2)
      TxLog.read(s, t2)
    },

    // SQL INSERT lifecycle (the last missing Delta DML verb): create by
    // first INSERT, append by SELECT and by (cols) VALUES with NULL
    // backfill, then REPLACE WHERE — Delta's targeted overwrite — swaps
    // the 1..200 key slice for a re-derived frame in ONE atomic commit
    // (touched files only; the oracle's CASE arm recomputes it).
    QueryDef("src_txlog_sql_insert",
      "SQL INSERT INTO: create-on-first-insert, SELECT/VALUES appends, column-list NULL backfill, REPLACE WHERE atomic slice swap",
      s"""SELECT c_custkey, c_name,
         |  CASE WHEN c_custkey BETWEEN 1 AND 200 THEN 7.0
         |       ELSE c_acctbal END AS c_acctbal
         |FROM read_parquet('${QueryDef.StageSql}/txins_in/*.parquet')
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT), CAST(NULL AS VARCHAR), 0.5
         |UNION ALL
         |SELECT CAST(-2 AS BIGINT), CAST(NULL AS VARCHAR), 1.5""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txins_in")
      val table = Files.createTempDirectory("graft_txins").toString + "/t"
      val id = java.util.UUID.randomUUID.toString.take(8)
      val view = s"txins_$id"
      s.read.parquet(s"$stage/txins_in").createOrReplaceTempView(view)
      s.sql(s"""INSERT INTO txlog.`$table`
               |SELECT c_custkey, c_name, c_acctbal FROM $view
               |WHERE c_custkey % 4 <> 0""".stripMargin)              // v1
      s.sql(s"""INSERT INTO txlog.`$table`
               |SELECT c_custkey, c_name, c_acctbal FROM $view
               |WHERE c_custkey % 4 = 0""".stripMargin)               // v2
      s.sql(s"INSERT INTO txlog.`$table` (c_custkey, c_acctbal) " +
        "VALUES (-1, 0.5), (-2, 1.5)")                                // v3
      s.sql(s"""INSERT INTO txlog.`$table` REPLACE WHERE
               |c_custkey BETWEEN 1 AND 200
               |SELECT c_custkey, c_name, 7.0 FROM $view
               |WHERE c_custkey BETWEEN 1 AND 200""".stripMargin)     // v4
      TxLog.read(s, table)
    },

    // SQL INSERT OVERWRITE PARTITION, static and dynamic: the backfill
    // verbs over a Hive-laid-out partitioned table — a static constant
    // partition replaces exactly its own files, a dynamic overwrite
    // replaces exactly the tuples present in the query output, every
    // other year byte-identical in place. Oracle recomputes per-year.
    QueryDef("src_txlog_sql_insert_overwrite",
      "SQL INSERT OVERWRITE PARTITION: static constant (1996) and dynamic (1997) partition backfills, other years untouched",
      """SELECT o_orderkey, o_totalprice, o_year FROM (
        |  SELECT o_orderkey, o_totalprice,
        |         CAST(YEAR(o_orderdate) AS INT) AS o_year FROM orders)
        |WHERE o_year NOT IN (1996, 1997)
        |UNION ALL
        |SELECT o_orderkey, o_totalprice + 50.0, 1996 FROM orders
        |WHERE CAST(YEAR(o_orderdate) AS INT) = 1996
        |UNION ALL
        |SELECT o_orderkey, o_totalprice + 100.0, 1997 FROM orders
        |WHERE CAST(YEAR(o_orderdate) AS INT) = 1997""".stripMargin) { (s, dir) =>
      val table = Files.createTempDirectory("graft_txinsow").toString + "/t"
      TxLog.setProperties(table, Map("graft.partition.columns" -> "o_year"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          year(col("o_orderdate")).alias("o_year"))
      TxLog.append(ord, table)
      val id = java.util.UUID.randomUUID.toString.take(8)
      val view = s"txinsow_$id"
      ord.createOrReplaceTempView(view)
      s.sql(s"""INSERT OVERWRITE txlog.`$table` PARTITION (o_year = 1996)
               |SELECT o_orderkey, o_totalprice + 50.0 FROM $view
               |WHERE o_year = 1996""".stripMargin)
      s.sql(s"""INSERT OVERWRITE txlog.`$table` PARTITION (o_year)
               |SELECT o_orderkey, o_totalprice + 100.0, o_year FROM $view
               |WHERE o_year = 1997""".stripMargin)
      TxLog.read(s, table)
    },

    // COPY INTO (Delta's idempotent bulk ingestion verb): batch b1 loads,
    // the re-run is a NO-OP (version pinned by require below — the
    // idempotence ledger skips already-loaded files by path|size|mtime
    // identity), then batch b2 lands and only ITS files load. The oracle
    // reads the staged source dirs directly: exactly-once ingestion means
    // table ≡ source, despite COPY running three times.
    QueryDef("src_txlog_sql_copy_into",
      "SQL COPY INTO: idempotent bulk file ingestion — re-run no-op, incremental batch pickup, exactly-once contents",
      s"""SELECT c_custkey, c_name, c_acctbal
         |FROM read_parquet('${QueryDef.StageSql}/copyinto_src/*/*.parquet')""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      val cust = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      val src = s"$stage/copyinto_src"
      // clean slate: a prior run's b2 must not leak into this run's b1-only
      // first COPY (stageDir is shared per sf); children sort after their
      // parent lexicographically, so reverse order deletes leaves first
      locally {
        val p = java.nio.file.Paths.get(src)
        if (java.nio.file.Files.exists(p))
          TxLog.walkDir(p).sortBy(_.toString).reverse
            .foreach(java.nio.file.Files.delete)
      }
      cust.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .write.mode("overwrite").parquet(s"$src/b1")
      val table = Files.createTempDirectory("graft_txcopy").toString + "/t"
      s.sql(s"COPY INTO txlog.`$table` FROM '$src'")                  // v1
      val rerun = s.sql(s"COPY INTO txlog.`$table` FROM '$src'")
        .collect().head
      require(rerun.getLong(1) == 0L,
        "COPY INTO re-run must load 0 files (idempotence ledger)")
      cust.filter(pmod(col("c_custkey"), lit(2)) === 1)
        .write.mode("overwrite").parquet(s"$src/b2")
      s.sql(s"COPY INTO txlog.`$table` FROM '$src'")                  // v2
      TxLog.read(s, table)
    },

    // Generated columns (Delta's GENERATED ALWAYS AS): o_year is declared
    // generated from o_orderdate AND is the partition column — neither
    // the API append nor the positional SQL INSERT supplies it (INSERT's
    // positional arity excludes generated columns), the write path
    // computes it, and the files land Hive-laid-out under the computed
    // value. The oracle recomputes YEAR over the base table: if any
    // write path ever computed or aligned the column wrong, the hash
    // diverges.
    QueryDef("src_txlog_generated_col",
      "generated partition column (GENERATED ALWAYS AS year(o_orderdate)): computed on API append and SQL INSERT, Hive layout under the computed value",
      """SELECT o_orderkey, o_totalprice,
        |  CAST(YEAR(o_orderdate) AS INT) AS o_year
        |FROM orders""".stripMargin) { (s, dir) =>
      val table = Files.createTempDirectory("graft_txgen").toString + "/t"
      TxLog.setProperties(table, Map("graft.partition.columns" -> "o_year"))
      TxLog.declareGeneratedColumn(s, table, "o_year",
        "CAST(year(o_orderdate) AS INT)")
      val ord = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
      TxLog.append(ord.filter(pmod(col("o_orderkey"), lit(2)) === 0), table)
      val id = java.util.UUID.randomUUID.toString.take(8)
      val view = s"txgen_$id"
      ord.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .createOrReplaceTempView(view)
      s.sql(s"""INSERT INTO txlog.`$table`
               |SELECT o_orderkey, o_totalprice, o_orderdate
               |FROM $view""".stripMargin)
      require(TxLog.activeFiles(table).forall(_.contains("o_year=")),
        "generated partition column must drive the Hive layout")
      TxLog.read(s, table).select("o_orderkey", "o_totalprice", "o_year")
    },

    // Row tracking (Delta's row IDs): the PRE-DML id snapshot is staged,
    // then an UPDATE rewrites the %5 slice and a DELETE drops the %9
    // slice — and the final read's _row_id column must STILL hash-match
    // the staged snapshot joined against the recomputed values. Any id
    // lost, reassigned, or duplicated through either rewrite diverges
    // the hash. (Ids themselves are synthetic; the oracle never assumes
    // their values, only their stability.)
    QueryDef("src_txlog_row_tracking",
      "row tracking: stable _row_id through UPDATE (rewrite materializes) and DELETE — final ids hash-match the pre-DML staged snapshot",
      s"""SELECT i.c_custkey,
         |  CASE WHEN i.c_custkey % 5 = 0 THEN -1.0
         |       ELSE c.c_acctbal END AS c_acctbal,
         |  i._row_id
         |FROM read_parquet('${QueryDef.StageSql}/rowtrack_ids/*.parquet') i
         |JOIN read_parquet('${QueryDef.StageSql}/rowtrack_in/*.parquet') c
         |  USING (c_custkey)
         |WHERE i.c_custkey % 9 <> 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer").select("c_custkey", "c_acctbal")
        .stageInput(dir, "rowtrack_in")
      // base (tracking enabled + load) cached — its row ids are frozen in
      // the log, so every file-copy carries identical ids; the DML under
      // measure runs fresh on the copy
      val base = Fixtures.immutableTable(dir, "txrow_base", 1) { t =>
        TxLog.enableRowTracking(t)
        TxLog.append(s.read.parquet(s"$stage/rowtrack_in"), t)
      }
      val table = Fixtures.mutableCopy(base, "graft_txrow")
      TxLog.readWithRowIds(s, table).select("c_custkey", "_row_id")
        .write.mode("overwrite").parquet(s"$stage/rowtrack_ids")
      s.sql(s"UPDATE txlog.`$table` SET c_acctbal = -1.0 " +
        "WHERE c_custkey % 5 = 0")
      s.sql(s"DELETE FROM txlog.`$table` WHERE c_custkey % 9 = 0")
      TxLog.readWithRowIds(s, table)
        .select("c_custkey", "c_acctbal", "_row_id")
    },

    // SCD Type 2 apply-changes (DLT's APPLY CHANGES … STORED AS SCD
    // TYPE 2): three INCREMENTAL batches fold into the history table —
    // initial load (seq 1), a %3 price correction (seq 2), a %7
    // retirement (seq 3) — and the result must hash-match DuckDB's
    // GLOBAL lead()-chain recompute over the union of all events. Any
    // row the incremental path fails to close, double-opens, or closes
    // at the wrong sequence diverges the hash.
    QueryDef("src_txlog_scd2",
      "SCD Type 2 apply-changes: three incremental CDC batches ≡ the global lead()-chain recompute (open/close/delete history rows)",
      s"""WITH ev AS (
         |  SELECT c_custkey, c_name, c_acctbal, 1 AS ver, 'upsert' AS op
         |  FROM read_parquet('${QueryDef.StageSql}/scd2_in/*.parquet')
         |  UNION ALL
         |  SELECT c_custkey, c_name, c_acctbal + 100.0, 2, 'upsert'
         |  FROM read_parquet('${QueryDef.StageSql}/scd2_in/*.parquet')
         |  WHERE c_custkey % 3 = 0
         |  UNION ALL
         |  SELECT c_custkey, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
         |         3, 'delete'
         |  FROM read_parquet('${QueryDef.StageSql}/scd2_in/*.parquet')
         |  WHERE c_custkey % 7 = 0),
         |o AS (SELECT *, LEAD(ver) OVER (PARTITION BY c_custkey
         |        ORDER BY ver ASC, op DESC) AS nxt FROM ev)
         |SELECT c_custkey, c_name, c_acctbal,
         |  CAST(ver AS BIGINT) AS __start_at, CAST(nxt AS BIGINT) AS __end_at
         |FROM o WHERE op = 'upsert'""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      val cust = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      cust.stageInput(dir, "scd2_in")
      val in = s.read.parquet(s"$stage/scd2_in")
      val table = Fixtures.immutableTable(dir, "txscd2", 1) { t =>
        def apply(b: org.apache.spark.sql.DataFrame): Unit =
          TxLog.applyChangesScd2(s, t, b, Seq("c_custkey"), "ver", "op")
        apply(in.withColumn("ver", lit(1L))
          .withColumn("op", lit("upsert")))                            // v1
        apply(in.filter(pmod(col("c_custkey"), lit(3)) === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100.0)
          .withColumn("ver", lit(2L)).withColumn("op", lit("upsert"))) // v2
        apply(in.filter(pmod(col("c_custkey"), lit(7)) === 0)
          .withColumn("c_name", lit(null).cast("string"))
          .withColumn("c_acctbal", lit(null).cast("double"))
          .withColumn("ver", lit(3L)).withColumn("op", lit("delete"))) // v3
      }
      TxLog.read(s, table)
    },

    // Declared clustered writes (graft.cluster.columns): the shuffled
    // append range-clusters itself on o_orderkey, so the range read
    // prunes files from the FIRST write (asserted in-entry) — no
    // OPTIMIZE ZORDER pass. The oracle recomputes the range over the
    // base table: pruning must never change results, only the files
    // read.
    QueryDef("src_txlog_clustered_write",
      "declared cluster columns: writes range-cluster themselves, range reads prune from the first commit, results unchanged",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 2000""".stripMargin) { (s, dir) =>
      val table = Fixtures.immutableTable(dir, "txclw", 1) { t =>
        TxLog.setProperties(t, Map("graft.cluster.columns" -> "o_orderkey"))
        TxLog.append(Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
          .repartition(8), t) // round-robin input: unclustered arrival
      }
      val pruned = TxLog.readRange(s, table, "o_orderkey", 1000.0, 2000.0)
      require(pruned.inputFiles.length < TxLog.activeFiles(table).size,
        "clustered write must let the range read prune files")
      pruned.filter(col("o_orderkey").between(1000, 2000))
    },

    // SQL CTAS on a path table (the last Delta DDL sliver): CREATE
    // TABLE … AS SELECT defines schema+contents in one statement,
    // IF NOT EXISTS is a no-op against the existing table, and CREATE
    // OR REPLACE swaps contents/schema/properties while keeping the
    // pre-replace versions time-travelable. The oracle recomputes the
    // FINAL (post-replace) snapshot.
    QueryDef("src_txlog_sql_ctas",
      "SQL CTAS: CREATE TABLE txlog.`p` AS SELECT; IF NOT EXISTS no-op; CREATE OR REPLACE resets contents — final snapshot oracled",
      s"""SELECT c_custkey, c_name, c_acctbal
         |FROM read_parquet('${QueryDef.StageSql}/txctas_in/*.parquet')
         |WHERE c_custkey % 3 = 0""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txctas_in")
      val t = Files.createTempDirectory("graft_txctas").toString + "/t"
      val id = java.util.UUID.randomUUID.toString.take(8)
      val view = s"txctas_src_$id"
      s.read.parquet(s"$stage/txctas_in").createOrReplaceTempView(view)
      try {
        s.sql(s"""CREATE TABLE txlog.`$t` TBLPROPERTIES ('owner' = 'ctas')
                 |AS SELECT c_custkey, c_name, c_acctbal FROM $view
                 |WHERE c_custkey % 2 = 0""".stripMargin)
        require(TxLog.properties(t).get("owner").contains("ctas"),
          "CTAS must commit the declared TBLPROPERTIES")
        // IF NOT EXISTS against an existing table: silent no-op
        val before = TxLog.latestVersion(t)
        s.sql(s"CREATE TABLE IF NOT EXISTS txlog.`$t` AS SELECT 1 AS x")
        require(TxLog.latestVersion(t) == before,
          "CREATE TABLE IF NOT EXISTS must not commit on an existing table")
        s.sql(s"""CREATE OR REPLACE TABLE txlog.`$t`
                 |AS SELECT c_custkey, c_name, c_acctbal FROM $view
                 |WHERE c_custkey % 3 = 0""".stripMargin)
        require(TxLog.properties(t).get("owner").isEmpty,
          "OR REPLACE must reset undeclared properties")
        TxLog.read(s, t).select("c_custkey", "c_name", "c_acctbal")
      } finally s.catalog.dropTempView(view)
    },

    // SQL CLONE verbs: SHALLOW CLONE VERSION AS OF pins a zero-copy
    // snapshot reference; CREATE OR REPLACE … DEEP CLONE atomically
    // replaces an EXISTING table (different schema and all) with an
    // independent copy. A post-clone append to the source proves both
    // clones are isolated from it. Oracle: side 1 = the v1 snapshot the
    // shallow clone pinned, side 2 = the full pre-append source the
    // deep clone copied.
    QueryDef("src_txlog_sql_clone",
      "SQL CLONE: SHALLOW CLONE VERSION AS OF pins the snapshot; CREATE OR REPLACE DEEP CLONE swaps an existing table; both isolated from source appends",
      s"""WITH b AS (SELECT c_custkey, c_name, c_acctbal
         |  FROM read_parquet('${QueryDef.StageSql}/txsqlcln_in/*.parquet'))
         |SELECT CAST(1 AS BIGINT) AS side, c_custkey, c_name, c_acctbal
         |FROM b WHERE c_custkey % 2 = 0
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS side, c_custkey, c_name, c_acctbal
         |FROM b""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "txsqlcln_in")
      val in = s.read.parquet(s"$stage/txsqlcln_in")
      val root = Files.createTempDirectory("graft_txsqlcln").toString
      val (src, sh, dp) = (s"$root/src", s"$root/sh", s"$root/dp")
      TxLog.append(in.filter(pmod(col("c_custkey"), lit(2)) === 0), src) // v1
      TxLog.append(in.filter(pmod(col("c_custkey"), lit(2)) === 1), src) // v2
      s.sql(s"CREATE TABLE txlog.`$sh` SHALLOW CLONE txlog.`$src` " +
        "VERSION AS OF 1")
      // the deep clone REPLACES a live table with an unrelated schema
      s.sql(s"CREATE TABLE txlog.`$dp` AS SELECT 1 AS junk")
      s.sql(s"CREATE OR REPLACE TABLE txlog.`$dp` DEEP CLONE txlog.`$src`")
      // divergence after the clones: neither may see this append
      TxLog.append(in.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .withColumn("c_custkey", col("c_custkey") + 9000000L), src)      // v3
      TxLog.read(s, sh).withColumn("side", lit(1L))
        .unionByName(TxLog.read(s, dp).withColumn("side", lit(2L)))
        .select("side", "c_custkey", "c_name", "c_acctbal")
    },

    // Incremental materialized view, SQL surface end-to-end (the delta
    // tier): CREATE MATERIALIZED VIEW over a txlog table, move the
    // source with INSERT + UPDATE + DELETE, REFRESH merges the signed
    // per-group delta — the in-entry require pins that the refresh was
    // INCREMENTAL (one merge commit), not a recompute. The oracle
    // replays the source's final state declaratively over the staged
    // input and re-aggregates; sums stay DECIMAL-exact until one final
    // cast to double on both sides.
    QueryDef("src_txlog_sql_mview",
      "Materialized view (SQL): CREATE MATERIALIZED VIEW, source INSERT/UPDATE/DELETE, REFRESH merges signed group deltas; view oracled",
      s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100
         |           ELSE c_acctbal END AS DECIMAL(12,2))) * 100
         |    AS BIGINT) AS bal_cents
         |FROM read_parquet('${QueryDef.StageSql}/mvw_in/*.parquet')
         |WHERE c_custkey % 3 IN (0, 1) AND c_custkey % 7 <> 0
         |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .stageInput(dir, "mvw_in")
      val in = s.read.parquet(s"$stage/mvw_in")
      val base = Fixtures.immutableTable(dir, "mvw_base", 1) { t =>
        TxLog.overwrite(in.filter(pmod(col("c_custkey"), lit(3)) === 0)
          .repartition(4), t)                                        // v1
      }
      val t = Fixtures.mutableCopy(base, "graft_mvw")
      val mv = Files.createTempDirectory("graft_mvw_v").toString + "/mv"
      // c_acctbal is DOUBLE in the testdata — sum a DECIMAL cast so the
      // maintained view is order-independent and exact on both engines
      s.sql(s"CREATE MATERIALIZED VIEW txlog.`$mv` AS " +
        s"SELECT c_mktsegment, count(*) AS n, " +
        s"sum(CAST(c_acctbal AS DECIMAL(12,2))) AS bal " +
        s"FROM txlog.`$t` GROUP BY c_mktsegment").collect()
      TxLog.append(in.filter(pmod(col("c_custkey"), lit(3)) === 1), t) // v2
      s.sql(s"UPDATE txlog.`$t` SET c_acctbal = c_acctbal + 100 " +
        "WHERE c_custkey % 5 = 0").collect()                         // v3
      s.sql(s"DELETE FROM txlog.`$t` WHERE c_custkey % 7 = 0").collect() // v4
      val r = s.sql(s"REFRESH MATERIALIZED VIEW txlog.`$mv`").collect().head
      require(r.getString(0) == "incremental_merge",
        s"expected an incremental merge refresh, got ${r.getString(0)}")
      // decimal cents → BIGINT: exact on both engines (a decimal→double
      // cast differs in the last ulp between Spark and DuckDB)
      TxLog.read(s, mv).select(col("c_mktsegment"), col("n"),
        (col("bal") * 100).cast("long").as("bal_cents"))
    },

    // The MIN/MAX materialized-view tier: per-group extrema are not
    // delta-maintainable under deletes, so REFRESH recomputes exactly
    // the groups the delta names (group-pruned semi-join) and merges —
    // including a tombstone DELETE for a group whose rows all left.
    // The require pins the strategy; content is oracled against a
    // declarative replay of the final source state.
    QueryDef("src_txlog_mview_minmax",
      "Materialized view MIN/MAX tier: REFRESH recomputes only delta-named groups, tombstones dead groups; view oracled",
      s"""SELECT c_mktsegment,
         |  CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) * 100 AS BIGINT)
         |    AS mx_cents,
         |  CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) * 100 AS BIGINT)
         |    AS mn_cents,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM read_parquet('${QueryDef.StageSql}/mvwmm_in/*.parquet')
         |WHERE c_acctbal <= 8000 AND c_mktsegment <> 'MACHINERY'
         |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .stageInput(dir, "mvwmm_in")
      val in = s.read.parquet(s"$stage/mvwmm_in")
      val base = Fixtures.immutableTable(dir, "mvwmm_base", 1) { t =>
        TxLog.overwrite(in.filter(pmod(col("c_custkey"), lit(2)) === 0)
          .repartition(4), t)                                        // v1
      }
      val t = Fixtures.mutableCopy(base, "graft_mvwmm")
      val mv = Files.createTempDirectory("graft_mvwmm_v").toString + "/mv"
      Mview.create(s, mv,
        s"SELECT c_mktsegment, max(CAST(c_acctbal AS DECIMAL(12,2))) AS mx, " +
          s"min(CAST(c_acctbal AS DECIMAL(12,2))) AS mn, count(*) AS n " +
          s"FROM txlog.`$t` GROUP BY c_mktsegment")
      TxLog.append(in.filter(pmod(col("c_custkey"), lit(2)) === 1), t) // v2
      TxLog.delete(s, t, col("c_acctbal") > 8000)                     // v3
      TxLog.delete(s, t, col("c_mktsegment") === "MACHINERY")         // v4
      val r = Mview.refresh(s, mv)
      require(r.mode == "incremental_recompute",
        s"expected a touched-group recompute refresh, got ${r.mode}")
      TxLog.read(s, mv).select(col("c_mktsegment"),
        (col("mx") * 100).cast("long").as("mx_cents"),
        (col("mn") * 100).cast("long").as("mn_cents"),
        col("n"))
    },

    // The stream-static JOIN tier of materialized views: the fact
    // table's signed delta joins the DIMENSION SNAPSHOT (a signed fact
    // row keeps its sign through the join — that is what keeps the
    // fact⋈dim aggregate delta-maintainable), so refresh cost follows
    // the fact delta; a dimension change would force full recompute
    // (guarded by its recorded version — spec-pinned). The oracle
    // replays the final fact state joined to the dimension in DuckDB.
    QueryDef("src_txlog_mview_join",
      "Materialized view over fact JOIN dim: fact deltas join the dim snapshot and merge; view oracled",
      s"""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
         |    AS rev_cents
         |FROM read_parquet('${QueryDef.StageSql}/mvwj_ord/*.parquet') o
         |JOIN read_parquet('${QueryDef.StageSql}/mvwj_cust/*.parquet') c
         |  ON o.o_custkey = c.c_custkey
         |WHERE o.o_orderkey % 3 IN (0, 1) AND o.o_orderkey % 7 <> 0
         |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .stageInput(dir, "mvwj_ord")
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .stageInput(dir, "mvwj_cust")
      val ord = s.read.parquet(s"$stage/mvwj_ord")
      val factBase = Fixtures.immutableTable(dir, "mvwj_fact", 1) { t =>
        TxLog.overwrite(ord.filter(pmod(col("o_orderkey"), lit(3)) === 0)
          .repartition(4), t)
      }
      val dimT = Fixtures.immutableTable(dir, "mvwj_dim", 1) { t =>
        TxLog.overwrite(s.read.parquet(s"$stage/mvwj_cust"), t)
      }
      val fact = Fixtures.mutableCopy(factBase, "graft_mvwj")
      val mv = Files.createTempDirectory("graft_mvwj_v").toString + "/mv"
      Mview.create(s, mv,
        s"SELECT c_mktsegment, count(*) AS n, " +
          s"sum(CAST(f.o_totalprice AS DECIMAL(14,2))) AS rev " +
          s"FROM txlog.`$fact` f JOIN txlog.`$dimT` d " +
          s"ON f.o_custkey = d.c_custkey GROUP BY c_mktsegment")
      TxLog.append(ord.filter(pmod(col("o_orderkey"), lit(3)) === 1), fact)
      TxLog.delete(s, fact, pmod(col("o_orderkey"), lit(7)) === 0)
      val r = Mview.refresh(s, mv)
      require(r.mode == "incremental_merge",
        s"expected an incremental merge refresh, got ${r.mode}")
      TxLog.read(s, mv).select(col("c_mktsegment"), col("n"),
        (col("rev") * 100).cast("long").as("rev_cents"))
    },

    // Mergeable-sketch materialized view: approx_count_distinct rides as
    // an HLL sketch aux column and an insert-only refresh UNIONs the
    // batch's sub-sketch into it (register-max — the union equals the
    // sketch of the concatenated stream), so the distinct-count rollup
    // never re-reads the source. The in-entry require pins the union
    // path; the oracle checks the a12 pattern — the staged incremental
    // estimate sits within ±3·rsd of DuckDB's exact distinct over the
    // final state.
    QueryDef("src_txlog_mview_hll",
      "Materialized view with approx_count_distinct: insert-only refresh unions HLL sketches; estimate oracled against exact ±3·rsd",
      s"""SELECT s.event_type, s.approx_users,
         |  ABS(s.approx_users - e.exact_users) <= 3 * 0.01625 * e.exact_users
         |    AS within_bound
         |FROM read_parquet('${QueryDef.StageSql}/mvwh_est/*.parquet') s
         |JOIN (SELECT event_type,
         |        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
         |      FROM events GROUP BY event_type) e USING (event_type)"""
        .stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "event_type", "user_id")
      val base = Fixtures.immutableTable(dir, "mvwh_base", 1) { t =>
        TxLog.overwrite(ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .repartition(4), t)
      }
      val t = Fixtures.mutableCopy(base, "graft_mvwh")
      val mv = Files.createTempDirectory("graft_mvwh_v").toString + "/mv"
      Mview.create(s, mv,
        s"SELECT event_type, approx_count_distinct(user_id) AS approx_users, " +
          s"count(*) AS n FROM txlog.`$t` GROUP BY event_type")
      TxLog.append(ev.filter(pmod(col("event_id"), lit(2)) === 1), t)
      val r = Mview.refresh(s, mv)
      require(r.mode == "incremental_merge",
        s"expected a sketch-union merge refresh, got ${r.mode}")
      TxLog.read(s, mv).select("event_type", "approx_users")
        .write.mode("overwrite").parquet(s"$stage/mvwh_est")
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).alias("exact_users"))
      s.read.parquet(s"$stage/mvwh_est").join(exact, "event_type")
        .select(col("event_type"), col("approx_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            lit(3 * 0.01625) * col("exact_users")).alias("within_bound"))
    },

    // The keyless signed change feed as SQL: a consumer maintaining its
    // own rollup aggregates the window's ±rows — the hand-rolled form of
    // what REFRESH MATERIALIZED VIEW automates. The oracle computes the
    // same delta as final-state minus initial-state aggregates over the
    // staged input (both sides drop untouched all-zero groups).
    QueryDef("src_txlog_sql_table_deltas",
      "table_deltas TVF: signed multiset window aggregated to per-group deltas; oracled as final-minus-initial",
      s"""WITH fin AS (SELECT c_mktsegment, COUNT(*) AS n,
         |    SUM(CAST(CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100
         |        ELSE c_acctbal END AS DECIMAL(12,2))) AS bal
         |  FROM read_parquet('${QueryDef.StageSql}/tdel_in/*.parquet')
         |  WHERE (c_custkey % 2 = 0 OR c_custkey % 2 = 1)
         |    AND c_custkey % 7 <> 0 GROUP BY c_mktsegment),
         |ini AS (SELECT c_mktsegment, COUNT(*) AS n,
         |    SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS bal
         |  FROM read_parquet('${QueryDef.StageSql}/tdel_in/*.parquet')
         |  WHERE c_custkey % 2 = 0 GROUP BY c_mktsegment)
         |SELECT COALESCE(f.c_mktsegment, i.c_mktsegment) AS c_mktsegment,
         |  CAST(COALESCE(f.n, 0) - COALESCE(i.n, 0) AS BIGINT) AS dn,
         |  CAST((COALESCE(f.bal, 0) - COALESCE(i.bal, 0)) * 100 AS BIGINT)
         |    AS dbal_cents
         |FROM fin f FULL JOIN ini i USING (c_mktsegment)
         |WHERE COALESCE(f.n, 0) - COALESCE(i.n, 0) <> 0
         |   OR COALESCE(f.bal, 0) - COALESCE(i.bal, 0) <> 0""".stripMargin) {
      (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .stageInput(dir, "tdel_in")
      val in = s.read.parquet(s"$stage/tdel_in")
      val base = Fixtures.immutableTable(dir, "tdel_base", 1) { t =>
        TxLog.overwrite(in.filter(pmod(col("c_custkey"), lit(2)) === 0)
          .repartition(4), t)
      }
      val t = Fixtures.mutableCopy(base, "graft_tdel")
      val v0 = TxLog.latestVersion(t).get
      TxLog.append(in.filter(pmod(col("c_custkey"), lit(2)) === 1), t)
      TxLog.update(s, t, pmod(col("c_custkey"), lit(5)) === 0,
        Map("c_acctbal" -> (col("c_acctbal") + 100)))
      TxLog.delete(s, t, pmod(col("c_custkey"), lit(7)) === 0)
      s.sql(
        s"""SELECT c_mktsegment, CAST(SUM(_sign) AS BIGINT) AS dn,
           |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)) * _sign) * 100
           |    AS BIGINT) AS dbal_cents
           |FROM table_deltas('$t', $v0) GROUP BY c_mktsegment
           |HAVING SUM(_sign) <> 0
           |    OR SUM(CAST(c_acctbal AS DECIMAL(12,2)) * _sign) <> 0"""
          .stripMargin)
    },

    // The active-file inventory as a queryable metadata table (Delta /
    // Iceberg's `files` metadata-table shape): one row per active data
    // file with partition, recorded size/rows, adding version, DV flag —
    // answered from the log fold alone, no data file opened. The entry
    // aggregates commit-recorded per-file row counts by partition and
    // the oracle recomputes the same from the data — i.e. the metadata
    // plane must agree with the bytes it indexes.
    QueryDef("src_txlog_table_files",
      "table_files TVF: per-file metadata table; partition-grouped recorded row counts oracled against the data",
      s"""SELECT 'c_mktsegment=' || c_mktsegment AS partition,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM read_parquet('${QueryDef.StageSql}/tfiles_in/*.parquet')
         |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val stage = QueryDef.stageDir(dir)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .stageInput(dir, "tfiles_in")
      val in = s.read.parquet(s"$stage/tfiles_in")
      val table = Fixtures.immutableTable(dir, "txtfiles", 1) { t =>
        TxLog.setProperties(t,
          Map("graft.partition.columns" -> "c_mktsegment"))
        TxLog.append(in.filter(pmod(col("c_custkey"), lit(2)) === 0), t)
        TxLog.append(in.filter(pmod(col("c_custkey"), lit(2)) === 1), t)
      }
      s.sql(s"SELECT partition, CAST(SUM(rows) AS BIGINT) AS n_rows " +
        s"FROM table_files('$table') GROUP BY partition")
    }
  )
}
