package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.functions.{HashExprs, TextFunctions, VectorFunctions}
import graft.operators.ColeQuery._
import graft.operators.{AsOfJoin, AviContainer, BloomJoin, Bpe, Checks, ColeQuery, Components, Dedup, FuzzyJoin, GenStore, HeavyHitters, InvertedIndex, KeySetStore, Layout, Manifest, Merge, Multimodal, Packing, PageRank, Par, ParquetWrite, Profile, QuantileStore, RangeJoin, Sessionize, Similarity, SketchStore, Splits, Triangles, VectorStore}
import graft.streaming.{CdcSync, EventStreams}

/** The engine's query catalog: every operator from SURVEY.md §2 (reference
  * parity O1-O13) plus the capability-parity-plus surface (joins, windows,
  * grouping sets, set ops, ...) as named queries over the driver testdata,
  * each with a DuckDB oracle (SparkEntry.oracleSql).
  *
  * Cross-engine determinism rules used throughout (Spark vs DuckDB must
  * hash-match bit-for-bit):
  *  - sums of integral-valued doubles (l_quantity) are exact in IEEE double
  *    and order-independent -> plain sum();
  *  - sums of 2-decimal money doubles go through DECIMAL(18,s) so partial
  *    aggregation order cannot change the result; final cast back to DOUBLE
  *    so both engines emit the same physical type;
  *  - computed integers (year, length, row_number, sums of ints) are cast to
  *    BIGINT on both sides (Spark would emit int32, DuckDB int64/hugeint);
  *  - timestamps in outputs are converted to epoch millis BIGINT (parquet
  *    timestamp logical-type annotations differ between writers);
  *  - every ORDER-sensitive construct (window, top-k) orders by a unique key.
  *
  * Catalog building blocks, each written once and called by the queries:
  *  - oracle: [[tokCte]] the `tok` CTE, optionally filtered;
  *  - oracle: [[bm25Ctes]]/[[bm25Score]] the BM25 CTE chain and its score;
  *  - oracle: [[keepCtes]] the curation quality gate (`qual`, `keep`);
  *  - oracle: [[bandKeyCtes]] the portable MinHash band-key chain;
  *  - oracle: [[gateOracle]] the per-query gate rows of the 10 query vectors;
  *  - oracle: [[postingsOracle]]/[[syncPostingsOracle]] the posting lists
  *    of a term set, over the corpus or a synced `mut` corpus;
  *  - oracle: [[mmrOracle]] the unrolled-greedy MMR re-rank;
  *  - oracle: [[curationCtes]]/[[curationStage]] the streaming curation's
  *    admission stages; [[packingOracle]] the 2048-token packing tail;
  *  - Spark: [[tokenized]]/[[docTokens]] tokenised documents;
  *  - Spark: [[admitDocs]]/[[appendDocs]] the index admit and append;
  *  - Spark: [[fitIvfPq]]/[[refitIvfPq]] the IVF-PQ fit and refit;
  *  - Spark: [[storeSearch]]/[[searchRows]]/[[ivfPqSearch]] the vector
  *    searches at the catalog's width ([[Nprobe]], [[Shortlist]]);
  *  - Spark: [[refuses]] "refused with a message containing X";
  *  - Spark: [[casRetryNoop]] the compaction-retry no-op check;
  *  - Spark: `withGates` literal gate columns, [[gateFrame]] the frame
  *    [[gateOracle]] states;
  *  - Spark: [[indexStore]]/[[vectorStore]]/[[signatureStore]] the store
  *    bootstraps (init, then one batch per part);
  *  - Spark: [[signatureKeys]] the portable MinHash band keys, derived once;
  *  - Spark: [[compactionCycle]] the fragment-count/compact/re-read/admit
  *    cycle and its gates, [[takedownCycle]] the delete/replay/compact
  *    cycle, [[noPendingDeletes]] the purge check;
  *  - Spark: [[bm25Rows]]/[[pinnedBm25]] collected and manifest-pinned BM25;
  *  - Spark: [[exhaustiveFrame]]/[[exhaustiveSearch]] the all-lists search
  *    that store equalities use;
  *  - Spark: [[fleetCompact]]/[[fleetTakedown]] the three-store fleet's
  *    compaction and takedown;
  *  - Spark: [[cdcMutations]] (from [[cdcUpserts]]/[[cdcInserts]]/
  *    [[cdcDeletes]]) the sync change script, [[publishDocs]],
  *    [[syncIndex]]/[[syncVectors]] the sync ticks, [[freshIndex]] the
  *    one-shot comparator, [[postingsFrame]]/[[indexSurfaces]] the synced
  *    index's served surfaces;
  *  - Spark: [[packed]] the 2048-token packing; [[feedStream]] the
  *    one-file-per-trigger crawl feed; [[curationStream]] the streaming
  *    curation of q164 and q170;
  *  - Spark: [[fleetStores]] the three-store fleet's bootstrap,
  *    [[cdcPair]]/[[pairTick]] the two-store CDC sync pair's;
  *  - Spark: [[decisionFrame]]/[[admitDecisions]]/[[decisionRows]] the
  *    signature store's admission decisions, framed or collected;
  *  - Spark: [[sketchStore]]/[[sketchEstimates]] the sketch store's
  *    bootstrap and collected estimates.
  */
object Queries {

  type QueryFn = (SparkSession, String) => DataFrame

  /** Sum a 2-decimal-double column exactly: decimal accumulate, double out. */
  private def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Per-invocation unique scratch directory for queries that exercise
    * write paths: concurrent verify/bench processes must never
    * race on a shared path (overwrite mode could interleave with the
    * other process's read). Best-effort deleted on JVM exit.
    */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  // One static hook for all scratch dirs: per-invocation hooks would
  // accumulate unbounded threads across repeated verify/bench runs in a
  // long-lived JVM.
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    import scala.jdk.CollectionConverters._
    scratchDirs.asScala.foreach { p =>
      try java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      catch { case _: Exception => () }
    }
  }))

  private def scratchDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-$tag-")
    scratchDirs.add(p)
    p.toString
  }

  final case class QDef(name: String, fn: QueryFn, oracle: Option[String])

  // ---------------------------------------------------------------------------
  // Reference parity: O1/O2 scan+decode, O4 projection, O5 filter, O6 skipping,
  // O7 global aggregate, O8 group-by, O9 ordered emission, O10 pipeline.
  // ---------------------------------------------------------------------------

  private val parity = Seq(
    QDef("q01_scan_project",
      (s, d) => ColeQuery.Query(projection = Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag"))
        .compile(t(s, d, "lineitem")),
      Some("""SELECT l_orderkey, l_partkey, l_quantity, l_returnflag FROM lineitem""")),

    QDef("q02_filter_scan",
      // All six comparison ops of include/execution.h:43-46 in one conjunction.
      (s, d) => ColeQuery.Query(
        projection = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
        filters = Seq(
          Predicate("l_quantity", Ge, 25L),
          Predicate("l_linenumber", Lt, 5L),
          Predicate("l_suppkey", Ne, 10L),
          Predicate("l_partkey", Gt, 100L),
          Predicate("l_orderkey", Le, 100000L),
          Predicate("l_linestatus", Eq, "F"))
      ).compile(t(s, d, "lineitem")),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
             |WHERE l_quantity >= 25 AND l_linenumber < 5 AND l_suppkey <> 10
             |  AND l_partkey > 100 AND l_orderkey <= 100000 AND l_linestatus = 'F'""".stripMargin)),

    QDef("q03_agg_global",
      // executeAggregate: one-pass count+sum+min+max with a filter.
      (s, d) => ColeQuery.Query(
        filters = Seq(Predicate("l_partkey", Gt, 500L)),
        agg = Some((Sum, "l_quantity"))
      ).compile(t(s, d, "lineitem")),
      Some("""SELECT count(*) AS count, sum(l_quantity) AS sum,
             |       min(l_quantity) AS min, max(l_quantity) AS max
             |FROM lineitem WHERE l_partkey > 500""".stripMargin)),

    QDef("q04_groupby_agg",
      // executeGroupBy: single string key, AggResult per key, key-sorted.
      (s, d) => ColeQuery.Query(
        groupBy = Seq("l_returnflag"),
        agg = Some((Sum, "l_quantity"))
      ).compile(t(s, d, "lineitem")),
      Some("""SELECT l_returnflag, count(*) AS count, sum(l_quantity) AS sum,
             |       min(l_quantity) AS min, max(l_quantity) AS max
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QDef("q05_count_star",
      (s, d) => ColeQuery.Query(agg = Some((Count, ""))).compile(t(s, d, "lineitem")),
      Some("""SELECT count(*) AS count FROM lineitem"""))
  )

  // ---------------------------------------------------------------------------
  // Capability-parity-plus: full SQL surface (absent in the reference,
  // SURVEY.md §2 exhaustiveness list; all Spark built-ins).
  // ---------------------------------------------------------------------------

  private val sqlSurface = Seq(
    QDef("q06_tpch_q1",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
          avg(col("l_quantity")).as("avg_qty"),
          (dsum(col("l_extendedprice"), 2) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  sum(l_quantity) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
             |  CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
             |  avg(l_quantity) AS avg_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_price,
             |  count(*) AS count_order
             |FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
             |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QDef("q07_join_broadcast",
      // Dim-side broadcast: no shuffle of the fact table for the join at scale.
      (s, d) => t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice"), 2).as("sum_total"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment, count(*) AS cnt,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    QDef("q08_join_multi",
      // Fact-to-fact shuffle join (lineitem-orders) + broadcast dims: the
      // plan shape that survives 100 TB (one big shuffle on the join key,
      // dims never shuffled).
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("n_name")),
      Some("""SELECT n_name, count(*) AS cnt,
             |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    QDef("q09_semi_join",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin)),

    QDef("q10_anti_join",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment"),
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin)),

    QDef("q11_window",
      // Windowing over a unique ordering key (o_orderkey) for determinism.
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w).cast("bigint"))
          .withColumn("run_total",
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double"))
          .withColumn("prev_order", lag(col("o_orderkey"), 1).over(w))
          .select("o_custkey", "o_orderkey", "rn", "run_total", "prev_order")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(row_number() OVER w AS BIGINT) AS rn,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total,
             |  lag(o_orderkey, 1) OVER w AS prev_order
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    QDef("q12_topk",
      // Top-k via orderBy+limit: Spark plans TakeOrderedAndProject — per-
      // partition heaps + driver merge of k rows, never a global sort.
      (s, d) => t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    QDef("q13_rollup",
      (s, d) => t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    QDef("q14_cube",
      (s, d) => t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    QDef("q15_distinct_agg",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts,
             |  count(DISTINCT l_suppkey) AS distinct_supps, count(*) AS cnt
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QDef("q16_intersect",
      (s, d) => t(s, d, "customer").filter(col("c_acctbal") > 5000).select(col("c_custkey").as("custkey"))
        .intersect(t(s, d, "orders").filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))),
      Some("""SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
             |INTERSECT
             |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin)),

    QDef("q17_except",
      (s, d) => t(s, d, "customer").filter(col("c_acctbal") > 5000).select(col("c_custkey").as("custkey"))
        .except(t(s, d, "orders").filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))),
      Some("""SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
             |EXCEPT
             |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin)),

    QDef("q18_scalar_funcs",
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        upper(col("o_orderstatus")).as("status_u"),
        substring(col("o_orderpriority"), 1, 3).as("prio3"),
        length(col("o_orderpriority")).cast("bigint").as("prio_len"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"),
        year(col("o_orderdate")).cast("bigint").as("yr"),
        month(col("o_orderdate")).cast("bigint").as("mo"),
        dayofmonth(col("o_orderdate")).cast("bigint").as("dy")),
      Some("""SELECT o_orderkey, upper(o_orderstatus) AS status_u,
             |  substr(o_orderpriority, 1, 3) AS prio3,
             |  CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
             |  o_orderstatus || '-' || o_orderpriority AS tag,
             |  CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  CAST(month(o_orderdate) AS BIGINT) AS mo,
             |  CAST(day(o_orderdate) AS BIGINT) AS dy
             |FROM orders""".stripMargin)),

    QDef("q19_case_having",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("big_cnt"),
          count(lit(1)).as("cnt"))
        .filter(col("cnt") > 10)
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS big_cnt,
             |  count(*) AS cnt
             |FROM lineitem GROUP BY l_returnflag HAVING count(*) > 10 ORDER BY l_returnflag""".stripMargin)),

    QDef("q20_scalar_subquery",
      // Scalar aggregate joined back via broadcast: no driver-side collect.
      (s, d) => {
        val mx = t(s, d, "orders").agg((max(col("o_custkey")) - 500).as("threshold"))
        t(s, d, "customer")
          .crossJoin(broadcast(mx))
          .filter(col("c_custkey") > col("threshold"))
          .select("c_custkey", "c_acctbal")
      },
      Some("""SELECT c_custkey, c_acctbal FROM customer
             |WHERE c_custkey > (SELECT max(o_custkey) - 500 FROM orders)""".stripMargin)),

    QDef("q21_events_hourly",
      // Batch mirror of the streaming tumbling-window aggregation
      // (graft.streaming): epoch-ms bigint keys for cross-engine stability.
      (s, d) => t(s, d, "events")
        .groupBy(col("event_type"),
          unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"), col("hour_ms")),
      Some("""SELECT event_type, epoch_ms(date_trunc('hour', ts)) AS hour_ms,
             |  count(*) AS cnt,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY event_type, date_trunc('hour', ts)
             |ORDER BY event_type, hour_ms""".stripMargin))
  )

  // ---------------------------------------------------------------------------
  // LLM-data-pipeline operators (north star): dedup, similarity search,
  // text analysis, multimodal, sessionization, as-of join.
  // ---------------------------------------------------------------------------

  /** Id offset for planted-clone fixtures (q31/q56): far above any real
    * vec_id at ANY scale factor, so clone ids can never collide with
    * originals (a +10000 shift would collide once the table reaches
    * 10000 rows). Appears as the literal 1099511627776 in the oracles.
    */
  private val CloneShift = 1L << 40

  /** Shared DuckDB CTE `tok` (doc_id, tk): whitespace tokens of every
    * document, or of those matching `where`.
    */
  private def tokCte(where: String = ""): String =
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
       |  FROM documents${if (where.isEmpty) "" else s" WHERE $where"}
       |)""".stripMargin

  /** Oracle twin of the curation quality gate over `tok`: `qual` scores
    * each doc as TextFunctions.qualityScore does and `keep` holds the
    * doc_ids scoring at least 0.5. Continues a WITH list.
    */
  private def keepCtes: String =
    s""", qual AS (
       |  SELECT doc_id,
       |    least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.4
       |    + least(1.0, (CASE WHEN len(tk) > 0
       |        THEN CAST(len(list_filter(tk, x -> list_contains($stoplist, x))) AS DOUBLE) / len(tk)
       |        ELSE 0.0 END) * 5.0) * 0.3
       |    + least(1.0, (CASE WHEN len(tk) > 0
       |        THEN CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk)
       |        ELSE 0.0 END) / 8.0) * 0.3 AS quality
       |  FROM tok
       |), keep AS (
       |  SELECT doc_id FROM qual WHERE quality >= 0.5
       |)""".stripMargin

  /** Portable MinHash band keys over `tok`, the oracle twin of Dedup's:
    * distinct word trigrams (`tri`, docs of at least 3 tokens, narrowed
    * by `triAnd`), 32 md5 min-hash signatures per doc (`sigs`) and 8
    * bands of 4 (`bnd`: doc_id, band, bucket). Continues a WITH list and
    * ends at bnd's closing parenthesis.
    */
  private def bandKeyCtes(triAnd: String = ""): String =
    s""", tri AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
       |    i -> array_to_string(tk[i:i+2], ' '))) AS sh
       |  FROM tok WHERE len(tk) >= 3${if (triAnd.isEmpty) "" else s" AND $triAnd"}
       |), sigs AS (
       |  SELECT doc_id, i, min(md5(CAST(i AS VARCHAR) || ':' || s)) AS sig
       |  FROM (SELECT doc_id, unnest(sh) AS s FROM tri)
       |  CROSS JOIN (SELECT unnest(range(0, 32)) AS i)
       |  GROUP BY doc_id, i
       |), bnd AS (
       |  SELECT doc_id, i // 4 AS band,
       |    md5(string_agg(sig, '|' ORDER BY i)) AS bucket
       |  FROM sigs GROUP BY doc_id, i // 4
       |)""".stripMargin

  /** Oracle of a per-query gate frame ([[gateFrame]]): each of the 10
    * query vectors (vec_id < 10) has 5 results and every `gates` column,
    * one line each.
    */
  private def gateOracle(gates: String*): String =
    s"""SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_results,
       |  ${gates.mkString(",\n  ")}
       |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin

  private val jaccardOracle =
    s"""${tokCte()},
       |tri AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
       |    i -> array_to_string(tk[i:i+2], ' '))) AS sh
       |  FROM tok WHERE len(tk) >= 3
       |),
       |post AS (SELECT doc_id, unnest(sh) AS g FROM tri),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM post x JOIN post y ON x.g = y.g AND x.doc_id < y.doc_id
       |),
       |pairs AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
       |    CAST(len(a.sh) AS BIGINT) + CAST(len(b.sh) AS BIGINT)
       |      - CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni
       |  FROM cand JOIN tri a ON id_a = a.doc_id JOIN tri b ON id_b = b.doc_id
       |)
       |SELECT id_a, id_b, inter, uni, CAST(inter AS DOUBLE) / uni AS jaccard
       |FROM pairs WHERE CAST(inter AS DOUBLE) / uni >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  private val stoplist = "['the','a','of','and','to','in','is','it']"

  private val llmOps = Seq(
    QDef("q22_sessionize",
      (s, d) => Sessionize.sessions(t(s, d, "events"), 1800000L),
      Some("""WITH e AS (
             |  SELECT user_id, event_id, ts, epoch_ms(ts) AS ts_ms FROM events
             |), g AS (
             |  SELECT user_id, event_id, ts, ts_ms,
             |    CASE WHEN lag(ts_ms) OVER w IS NULL
             |              OR ts_ms - lag(ts_ms) OVER w > 1800000
             |         THEN 1 ELSE 0 END AS is_start
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |), se AS (
             |  SELECT user_id, ts_ms,
             |    sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
             |  FROM g
             |)
             |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
             |  count(*) AS n_events, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
             |FROM se GROUP BY user_id, session_no ORDER BY user_id, session_no""".stripMargin)),

    QDef("q23_dedup_exact",
      (s, d) => Dedup.exact(t(s, d, "documents"), Seq("text"), "doc_id"),
      Some("""SELECT text, min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
             |  arg_min(source, doc_id) AS source, arg_min(n_chars, doc_id) AS n_chars
             |FROM documents GROUP BY text""".stripMargin)),

    QDef("q24_minhash_neardup",
      // LSH path; recall at j>=0.8 with (128 hashes, 32 bands) is ~1-5e-8,
      // so the verified output equals the exact-Jaccard oracle.
      (s, d) => Dedup.minHashNearDupPairs(t(s, d, "documents"), "doc_id", "text"),
      Some(jaccardOracle)),

    QDef("q25_simhash",
      // PORTABLE simhash family (md5-derived per-shingle hashes, two
      // 32-bit majority-vote halves): the full fingerprint dump is
      // recomputed by the oracle bit-for-bit — the hash-family gap that
      // kept this rows-only in earlier rounds is closed by construction.
      // (The XXH64 native-kernel family remains the throughput path,
      // cross-checked in TextDedupSpec.)
      (s, d) => Dedup.simHashFingerprintsPortable(t(s, d, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("sim_hi"), col("sim_lo"))
        .orderBy(col("doc_id")),
      Some(s"""${tokCte()},
              |tri AS (
              |  SELECT doc_id, CASE WHEN len(tk) >= 3
              |    THEN list_distinct(list_transform(range(1, len(tk) - 1),
              |      i -> array_to_string(tk[i:i+2], ' ')))
              |    ELSE [] END AS sh
              |  FROM tok
              |),
              |h AS (
              |  SELECT doc_id,
              |    list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 8) AS UBIGINT)::BIGINT) AS hh,
              |    list_transform(sh, s -> CAST('0x' || substr(md5(s), 9, 8) AS UBIGINT)::BIGINT) AS hl
              |  FROM tri
              |)
              |SELECT doc_id,
              |  CAST(list_sum(list_transform(range(0,32), j -> CASE WHEN 2 * len(list_filter(hh, x -> (x & (1::BIGINT << j)) <> 0)) > len(hh) THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS sim_hi,
              |  CAST(list_sum(list_transform(range(0,32), j -> CASE WHEN 2 * len(list_filter(hl, x -> (x & (1::BIGINT << j)) <> 0)) > len(hl) THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS sim_lo
              |FROM h ORDER BY doc_id""".stripMargin)),

    QDef("q26_token_stats",
      (s, d) => {
        val tk = TextFunctions.tokens(col("text"))
        t(s, d, "documents").select(
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          size(array_distinct(tk)).cast("bigint").as("n_distinct"),
          TextFunctions.avgTokenLen(tk).as("avg_len"),
          TextFunctions.stopwordRatio(tk).as("stop_ratio"))
          .orderBy(col("doc_id"))
      },
      Some(s"""${tokCte()}
              |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
              |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
              |  CASE WHEN len(tk) > 0
              |       THEN CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk)
              |       ELSE 0.0 END AS avg_len,
              |  CASE WHEN len(tk) > 0
              |       THEN CAST(len(list_filter(tk, x -> list_contains($stoplist, x))) AS DOUBLE) / len(tk)
              |       ELSE 0.0 END AS stop_ratio
              |FROM tok ORDER BY doc_id""".stripMargin)),

    QDef("q27_quality_score",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id")),
      Some(s"""${tokCte()}
              |SELECT doc_id,
              |  least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.4
              |  + least(1.0, (CASE WHEN len(tk) > 0
              |      THEN CAST(len(list_filter(tk, x -> list_contains($stoplist, x))) AS DOUBLE) / len(tk)
              |      ELSE 0.0 END) * 5.0) * 0.3
              |  + least(1.0, (CASE WHEN len(tk) > 0
              |      THEN CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk)
              |      ELSE 0.0 END) / 8.0) * 0.3 AS quality
              |FROM tok ORDER BY doc_id""".stripMargin)),

    QDef("q28_langid",
      // The heuristic is deterministic arithmetic (per-language stopword
      // hit counts, argmax with list-order tie-break), so it IS
      // SQL-expressible: the oracle recomputes the same argmax with a
      // CASE chain where an earlier language wins ties (>=), matching
      // langId's negated-rank struct ordering.
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"),
          col("lang").as("lang_true"))
        .orderBy(col("doc_id")),
      Some(s"""${tokCte()},
              |sc AS (
              |  SELECT doc_id,
              |    len(list_filter(tk, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS s_en,
              |    len(list_filter(tk, x -> list_contains(['le','la','de','et','un','une','est','les'], x))) AS s_fr,
              |    len(list_filter(tk, x -> list_contains(['der','die','das','und','ein','ist','nicht','mit'], x))) AS s_de,
              |    len(list_filter(tk, x -> list_contains(['el','la','de','y','un','una','es','los'], x))) AS s_es,
              |    len(list_filter(tk, x -> list_contains(['de5','shi4','le5','zai4','he2','you3','wo3','ta1'], x))) AS s_zh
              |  FROM tok
              |)
              |SELECT d.doc_id,
              |  CASE WHEN s_en=0 AND s_fr=0 AND s_de=0 AND s_es=0 AND s_zh=0 THEN 'und'
              |       WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en >= s_zh THEN 'en'
              |       WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
              |       WHEN s_de >= s_es AND s_de >= s_zh THEN 'de'
              |       WHEN s_es >= s_zh THEN 'es'
              |       ELSE 'zh' END AS lang_pred,
              |  d.lang AS lang_true
              |FROM sc JOIN documents d USING (doc_id) ORDER BY doc_id""".stripMargin)),

    QDef("q29_fingerprint",
      // Winnowed fingerprints over the PORTABLE md5 gram-hash family
      // (k=8, w=16): min of every 16-window of consecutive 8-gram hashes,
      // deduplicated and sorted — fully recomputed by the oracle, the
      // same family switch that made q25/q38 oracle-checkable. The XXH64
      // kernel variant stays the throughput path (TextDedupSpec). The
      // fingerprint set is emitted comma-joined (driver canonicalizer
      // cannot hash array cells); array form asserted in TextDedupSpec.
      (s, d) => Dedup.winnowedFingerprintsPortable(
          t(s, d, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), size(col("fp")).cast("long").as("n_fp"),
          array_join(transform(col("fp"), _.cast("string")), ",").as("fp_csv"))
        .orderBy(col("doc_id")),
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    list_transform(generate_series(1, greatest(length(text) - 7, 1)),
             |      i -> CAST(CAST('0x' || substr(md5(substr(text, i, 8)), 1, 8) AS UBIGINT) AS BIGINT)) AS hs
             |  FROM documents
             |), m AS (
             |  SELECT doc_id,
             |    CASE WHEN len(hs) >= 16
             |      THEN list_transform(generate_series(16, len(hs)),
             |        j -> list_min(hs[j - 15:j]))
             |      ELSE [list_min(hs)] END AS mins
             |  FROM h
             |)
             |SELECT doc_id, CAST(len(list_distinct(mins)) AS BIGINT) AS n_fp,
             |  array_to_string(list_transform(list_sort(list_distinct(mins)),
             |    x -> CAST(x AS VARCHAR)), ',') AS fp_csv
             |FROM m ORDER BY doc_id""".stripMargin)),

    QDef("q30_cosine_topk",
      // Exact brute-force ANN baseline. Rank-5/6 cosine gaps in this data
      // are >=1.9e-5, far above cross-engine float noise, so ranks are
      // stable; the cosine value itself is engine-specific and excluded.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", 5)
          .select("query_id", "rank", "neighbor_id")
      },
      Some("""WITH q AS (
             |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
             |), s AS (
             |  SELECT query_id, vec_id AS neighbor_id,
             |    list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS cos
             |  FROM q, embeddings WHERE vec_id <> query_id
             |)
             |SELECT query_id,
             |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
             |  neighbor_id
             |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    QDef("q31_embed_neardup",
      // Re-crawl scenario: the corpus unioned with an id-shifted copy of
      // itself; sign-LSH + exact-cosine verify must find exactly the
      // planted duplicates (no natural pair exceeds cos 0.9 in this data).
      (s, d) => {
        val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val recrawl = emb.unionByName(
          emb.select((col("vec_id") + CloneShift).as("vec_id"), col("embedding")))
        Dedup.embeddingNearDupPairs(recrawl, "vec_id", "embedding")
      },
      Some("""SELECT vec_id AS id_a, vec_id + 1099511627776 AS id_b FROM embeddings ORDER BY id_a""")),

    QDef("q32_binary_meta",
      (s, d) => Multimodal.binaryMeta(
        t(s, d, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
        "doc_id", "payload")
        .select("doc_id", "n_bytes", "header_hex")
        .orderBy(col("doc_id")),
      // header_hex must slice BYTES, not characters: Spark takes the
      // first 4 bytes of the UTF-8 payload, so the oracle slices the
      // first 8 hex digits of the full blob hex (byte semantics even for
      // multibyte text — char-based substr(text,1,4) would diverge).
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  substr(hex(encode(text)), 1, 8) AS header_hex
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QDef("q33_media_features",
      // Stubbed decode (deterministic fake) — plumbing is real, and the
      // stub itself is now FULLY oracle-checked: fakeDecode's FNV-style
      // byte fold (h = h*31 + byte, wrapping mod 2^64) and the shift/mask
      // feature arithmetic are recomputed end-to-end by DuckDB via
      // list_reduce over hex-sliced payload bytes in HUGEINT mod-2^64
      // arithmetic (two's-complement wrap, arithmetic shifts as exact
      // floor divisions, float32 ops via FLOAT4 casts). Text payloads are
      // never ImageIO-decodable, so every row deterministically takes the
      // stub path. The feature vector is emitted as 8 scalar doubles
      // (pandas canonicalization cannot sort/hash ndarray cells).
      (s, d) => {
        val media = Multimodal.extractFeatures(
          t(s, d, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
          "doc_id", "payload")
        val feats = (0 until 8).map(j =>
          element_at(col("feature"), j + 1).cast("double").as(s"f$j"))
        media.select(Seq(col("id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames")) ++ feats: _*)
          .orderBy(col("id"))
      },
      // 2^(7j) divisors for j=0..7; (x - ((x%d+d)%d))//d is exact floor
      // division on HUGEINT (DuckDB // truncates toward zero), matching
      // Scala's arithmetic >> on negatives.
      Some("""WITH raw AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
             |bl AS (SELECT doc_id, list_transform(generate_series(1, length(hx)//2),
             |         i -> CAST('0x'||substr(hx, 2*i-1, 2) AS INT)) AS b FROM raw),
             |fu AS (SELECT doc_id, list_reduce(
             |        list_prepend(CAST(1125899906842597 AS HUGEINT), b),
             |        (acc, x) -> (acc * 31 + x) % CAST('18446744073709551616' AS HUGEINT)) AS u
             |      FROM bl),
             |hh AS (SELECT doc_id,
             |        CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
             |             THEN u - CAST('18446744073709551616' AS HUGEINT) ELSE u END AS hs
             |       FROM fu),
             |sh AS (SELECT doc_id, hs,
             |        (hs - ((hs % 1024 + 1024) % 1024)) // 1024 AS hs10,
             |        (hs - ((hs % 1048576 + 1048576) % 1048576)) // 1048576 AS hs20,
             |        list_transform([1, 128, 16384, 2097152, 268435456,
             |                        34359738368, 4398046511104, 562949953421312], d ->
             |          CAST(CAST((((hs - ((hs % d + d) % d)) // d) % 65536 + 65536) % 65536 AS FLOAT4)
             |            / CAST(65535 AS FLOAT4) * CAST(2 AS FLOAT4) - CAST(1 AS FLOAT4) AS DOUBLE)) AS fs
             |       FROM hh)
             |SELECT doc_id AS id,
             |  CAST(64 + abs(hs) % 1024 AS BIGINT) AS width,
             |  CAST(64 + abs(hs10) % 1024 AS BIGINT) AS height,
             |  CAST(1 + abs(hs20) % 32 AS BIGINT) AS n_frames,
             |  fs[1] AS f0, fs[2] AS f1, fs[3] AS f2, fs[4] AS f3,
             |  fs[5] AS f4, fs[6] AS f5, fs[7] AS f6, fs[8] AS f7
             |FROM sh ORDER BY id""".stripMargin)),

    QDef("q34_asof_join",
      // For each click, the most recent view by the same user at or before
      // the click (as-of backward join).
      (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id"))
        AsOfJoin.joinAsOf(clicks, views, "user_id", "ts", "ts", "event_id")
          .select(col("event_id"), col("user_id"), col("asof_event_id").as("view_event_id"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT e.event_id, e.user_id, v.event_id AS view_event_id
             |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click') e
             |ASOF LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'view') v
             |  ON e.user_id = v.user_id AND e.ts >= v.ts
             |ORDER BY e.event_id""".stripMargin)),

    QDef("q35_ivf_topk",
      // IVF ANN with an ORACLE-GATED recall bound: the brute-force
      // reference runs in the same query, per-query hit counts roll up
      // to overall recall, and `recall_ge_080` must come out TRUE — the
      // oracle states the literal (q37's gate pattern). Measured recall
      // at these settings (nprobe 6/16 cells, 3 replica lists — widened
      // from the 4/2 defaults because the synthetic embeddings are
      // near-uniform, i.e. worst-case clusterable) is 0.94, so the 0.80
      // gate has real margin yet still catches a broken index outright.
      // n_results = k per query is exact and oracle-checked.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val ivf = Similarity.ivfTopK(q, emb, "vec_id", "embedding", 5,
          nprobe = 6, nassign = 3).select("query_id", "neighbor_id")
        val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
          .select("query_id", "neighbor_id")
        val w = Window.partitionBy() // 10 rows by this point: tiny
        ivf.join(bf.withColumn("hit", lit(1L)), Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_results"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("query_id"), col("n_results"),
            (sum(col("n_hits")).over(w).cast("double")
              / sum(col("n_results")).over(w) >= 0.8).as("recall_ge_080"))
          .orderBy(col("query_id"))
      },
      Some(gateOracle("TRUE AS recall_ge_080"))),

    QDef("q36_jaccard_exact",
      // Exact all-pairs n-gram Jaccard (small-N tool / LSH verification
      // baseline) — same oracle as the LSH path by design.
      (s, d) => Dedup.exactJaccardPairs(t(s, d, "documents"), "doc_id", "text"),
      Some(jaccardOracle)),

    QDef("q37_approx_distinct",
      // exact_parts is oracle-checked. The HLL++ sketch value itself is
      // implementation-specific, so the approx path is gated by a
      // relative-error bound computed Spark-side: `approx_within_10pct`
      // must come out true for every group, and the oracle asserts the
      // literal TRUE — an out-of-bound sketch breaks the hash match.
      // (rsd=0.02, so 10% is a 5-sigma margin: still catches a broken
      // sketch outright, while a healthy sketch passes on ANY dataset,
      // not just this one — the gate must not fail on regenerated data.)
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")).cast("double") / col("exact_parts")
            <= 0.10).as("approx_within_10pct"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
             |  TRUE AS approx_within_10pct
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QDef("q38_simhash_neardup",
      // SimHash block-LSH near-dup pairs over the PORTABLE md5 family:
      // the oracle rebuilds the fingerprints, the 4x16-bit block
      // candidate join, AND the true-Hamming verification in SQL, so
      // pair membership and distances are fully hash-matched (the gap
      // that kept this rows-only is closed the same way as q25). The
      // XXH64-family variant stays the fast path, cross-checked against
      // exact Jaccard in TextDedupSpec.
      (s, d) => Dedup.simHashNearDupPairsPortable(t(s, d, "documents"), "doc_id", "text"),
      Some(s"""${tokCte()},
              |tri AS (
              |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
              |    i -> array_to_string(tk[i:i+2], ' '))) AS sh
              |  FROM tok WHERE len(tk) >= 3
              |),
              |h AS (
              |  SELECT doc_id,
              |    list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 8) AS UBIGINT)::BIGINT) AS hh,
              |    list_transform(sh, s -> CAST('0x' || substr(md5(s), 9, 8) AS UBIGINT)::BIGINT) AS hl
              |  FROM tri
              |),
              |fp AS (
              |  SELECT doc_id,
              |    CAST(list_sum(list_transform(range(0,32), j -> CASE WHEN 2 * len(list_filter(hh, x -> (x & (1::BIGINT << j)) <> 0)) > len(hh) THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS hi,
              |    CAST(list_sum(list_transform(range(0,32), j -> CASE WHEN 2 * len(list_filter(hl, x -> (x & (1::BIGINT << j)) <> 0)) > len(hl) THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS lo
              |  FROM h
              |),
              |blocks AS (
              |  SELECT doc_id, hi, lo, b AS blk,
              |    CASE b WHEN 0 THEN hi // 65536 WHEN 1 THEN hi % 65536
              |           WHEN 2 THEN lo // 65536 ELSE lo % 65536 END AS key
              |  FROM fp, range(0, 4) t(b)
              |),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
              |)
              |SELECT id_a, id_b,
              |  CAST(bit_count(xor(fa.hi, fb.hi)) + bit_count(xor(fa.lo, fb.lo)) AS BIGINT) AS hamming
              |FROM cand JOIN fp fa ON fa.doc_id = id_a JOIN fp fb ON fb.doc_id = id_b
              |WHERE bit_count(xor(fa.hi, fb.hi)) + bit_count(xor(fa.lo, fb.lo)) <= 3
              |ORDER BY id_a, id_b""".stripMargin))
  )

  // ---------------------------------------------------------------------------
  // Extended SQL surface round 2: exact percentiles, pivot, range join,
  // JSON extraction, union-all, rich string/date predicates.
  // ---------------------------------------------------------------------------

  private val sqlSurface2 = Seq(
    QDef("q39_percentiles",
      // Exact (sort-based) percentiles; integral l_quantity makes the
      // linear interpolation cross-engine exact.
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.25) AS p25,
             |  quantile_cont(l_quantity, 0.5) AS p50,
             |  quantile_cont(l_quantity, 0.75) AS p75,
             |  count(*) AS cnt
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QDef("q40_pivot",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0L)).as("F"), coalesce(col("O"), lit(0L)).as("O"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  count(*) FILTER (WHERE l_linestatus = 'F') AS F,
             |  count(*) FILTER (WHERE l_linestatus = 'O') AS O
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QDef("q41_range_join",
      // Point-in-interval join against a tiny broadcast bucket table —
      // the scalable shape for histogram/banding joins.
      (s, d) => {
        val buckets = s.range(0, 10).select(
          (col("id") * 5 + 1).as("lo"), ((col("id") + 1) * 5).as("hi"))
        t(s, d, "lineitem")
          .join(broadcast(buckets),
            col("l_quantity") >= col("lo") && col("l_quantity") <= col("hi"))
          .groupBy(col("lo"), col("hi"))
          .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("lo"))
      },
      Some("""SELECT lo, hi, count(*) AS cnt, sum(l_quantity) AS sum_qty
             |FROM lineitem, (SELECT i*5+1 AS lo, (i+1)*5 AS hi FROM range(0,10) t(i)) b
             |WHERE l_quantity BETWEEN lo AND hi
             |GROUP BY lo, hi ORDER BY lo""".stripMargin)),

    QDef("q42_json_extract",
      (s, d) => t(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events ORDER BY event_id""".stripMargin)),

    QDef("q43_union_all",
      (s, d) => t(s, d, "orders").select(col("o_custkey").as("custkey"), lit("o").as("src"))
        .unionByName(t(s, d, "customer").select(col("c_custkey").as("custkey"), lit("c").as("src")))
        .groupBy(col("src"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("custkey")).as("n_keys"))
        .orderBy(col("src")),
      Some("""SELECT src, count(*) AS cnt, count(DISTINCT custkey) AS n_keys
             |FROM (SELECT o_custkey AS custkey, 'o' AS src FROM orders
             |      UNION ALL SELECT c_custkey AS custkey, 'c' AS src FROM customer)
             |GROUP BY src ORDER BY src""".stripMargin)),

    QDef("q44_string_predicates",
      // OR / NOT / LIKE — all absent from the reference's predicate
      // language (include/execution.h:52).
      (s, d) => t(s, d, "part")
        .filter((col("p_size") > 20 || col("p_brand") === "Brand#1")
          && col("p_name").like("%a%") && !col("p_type").like("S%"))
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size"),
      Some("""SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
             |WHERE (p_size > 20 OR p_brand = 'Brand#1')
             |  AND p_name LIKE '%a%' AND NOT p_type LIKE 'S%'""".stripMargin)),

    QDef("q45_date_arith",
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate")).cast("bigint").as("days_to_2002"),
        quarter(col("o_orderdate")).cast("bigint").as("qtr"),
        dayofweek(col("o_orderdate")).cast("bigint").as("dow"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
             |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
             |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
             |  CAST(dayofweek(o_orderdate) AS BIGINT) + 1 AS dow
             |FROM orders ORDER BY o_orderkey""".stripMargin))
  )

  private val sqlSurface3 = Seq(
    QDef("q46_null_handling",
      // The reference has no nulls at all (README:135); full null-aware
      // semantics demonstrated via an outer join: counts ignore nulls,
      // coalesce defaults, null-safe grouping.
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("o_orderkey")).as("n_orders"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_no_order"),
          dsum(coalesce(col("o_totalprice"), lit(0.0)), 2).as("sum_total"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment, count(*) AS n_rows, count(o_orderkey) AS n_orders,
             |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_order,
             |  CAST(sum(CAST(coalesce(o_totalprice, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
             |FROM customer LEFT OUTER JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
             |  ON c_custkey = o_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    QDef("q47_window_frames",
      // RANGE frame (value-based window) + first/last over a unique order.
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        val wr = w.rangeBetween(-1000L, 0L)
        t(s, d, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(wr).as("n_in_range"),
          first(col("o_orderkey")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_key"),
          last(col("o_orderkey")).over(
            w.rowsBetween(Window.currentRow, Window.unboundedFollowing)).as("last_key"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             |    RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_in_range,
             |  first(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_key,
             |  last(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_key
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin))
  )

  private val pipeline = Seq(
    QDef("q50_grouping_id",
      // grouping() indicators distinguish data NULLs from rollup
      // subtotal rows — the standard grouping-sets disambiguator.
      (s, d) => t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("bigint").as("g_flag"),
          grouping(col("l_linestatus")).cast("bigint").as("g_status"),
          count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
             |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
             |  count(*) AS cnt
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    QDef("q49_asof_forward",
      // Forward as-of: for each view, the same user's NEXT click at or
      // after it (conversion attribution).
      (s, d) => {
        val ev = t(s, d, "events")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        AsOfJoin.joinAsOf(views, clicks, "user_id", "ts", "ts", "event_id",
          AsOfJoin.Forward, toleranceMs = None)
          .select(col("event_id"), col("user_id"), col("asof_event_id").as("next_click_id"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT v.event_id, v.user_id, c.event_id AS next_click_id
             |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'view') v
             |ASOF LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click') c
             |  ON v.user_id = c.user_id AND v.ts <= c.ts
             |ORDER BY v.event_id""".stripMargin)),

    QDef("q48_curation_pipeline",
      // The end-to-end training-data curation composition: quality
      // filter -> exact dedup (min-id survivor) -> curated projection.
      // One narrow scoring pass + one shuffle (the dedup groupBy).
      (s, d) => {
        val enriched = t(s, d, "documents").select(
          col("doc_id"), col("text"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
          .filter(col("quality") >= 0.5)
        Dedup.exact(enriched, Seq("text"), "doc_id")
          .select("doc_id", "n_tokens", "quality")
          .orderBy(col("doc_id"))
      },
      Some(s"""${tokCte()},
              |q AS (
              |  SELECT doc_id, text, CAST(len(tk) AS BIGINT) AS n_tokens,
              |    least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.4
              |    + least(1.0, (CASE WHEN len(tk) > 0
              |        THEN CAST(len(list_filter(tk, x -> list_contains($stoplist, x))) AS DOUBLE) / len(tk)
              |        ELSE 0.0 END) * 5.0) * 0.3
              |    + least(1.0, (CASE WHEN len(tk) > 0
              |        THEN CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk)
              |        ELSE 0.0 END) / 8.0) * 0.3 AS quality
              |  FROM tok JOIN documents USING (doc_id)
              |)
              |SELECT min(doc_id) AS doc_id, arg_min(n_tokens, doc_id) AS n_tokens,
              |  arg_min(quality, doc_id) AS quality
              |FROM q WHERE quality >= 0.5 GROUP BY text ORDER BY doc_id""".stripMargin))
  )

  // ---------------------------------------------------------------------------
  // Curation round 2: normalization, PII redaction, deterministic splits and
  // stratified sampling (engine-portable md5 hash — the oracle recomputes
  // the exact per-row assignment, not just aggregate proportions).
  // ---------------------------------------------------------------------------

  // shared by q53/q54: the same portable uniform draw the Spark side uses
  private val uCte =
    """WITH u AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
      |      / 4294967296.0 AS u
      |  FROM documents
      |)""".stripMargin

  /** Shared by q57 and q112: closed-form component labels of the
    * verified MinHash near-dup pair graph (threshold 0.6, where the
    * 64×2 banding makes the candidate set equal the exact-Jaccard
    * graph) via a recursive reachability CTE — the ground truth both
    * the one-shot and the incremental label-propagation paths must hit.
    */
  private val ccReachabilityOracle =
    """WITH RECURSIVE tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM documents
      |),
      |tri AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
      |    i -> array_to_string(tk[i:i+2], ' '))) AS sh
      |  FROM tok WHERE len(tk) >= 3
      |),
      |post AS (SELECT doc_id, unnest(sh) AS g FROM tri),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM post x JOIN post y ON x.g = y.g AND x.doc_id < y.doc_id
      |),
      |p AS (
      |  SELECT id_a, id_b
      |  FROM cand JOIN tri a ON id_a = a.doc_id JOIN tri b ON id_b = b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6
      |),
      |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
      |nodes AS (SELECT a AS id FROM e UNION SELECT b FROM e),
      |r(id, m) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT r.id, e.b FROM r JOIN e ON r.m = e.a
      |)
      |SELECT id, min(m) AS comp FROM r GROUP BY id ORDER BY id""".stripMargin

  private val curationOps = Seq(
    QDef("q51_normalize",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.normalize(col("text")).as("norm_text"),
          length(TextFunctions.normalize(col("text"))).cast("bigint").as("n_chars_norm"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
             |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QDef("q52_redact",
      // The fixture plants an email and a phone per row (the corpus text
      // itself carries none), so the redaction pass is actually exercised
      // and the oracle checks the masked output byte-for-byte.
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.redactPii(
            concat(lit("contact user"), col("doc_id").cast("string"),
              lit("@example.com or 555-123-4567 re: "), col("text"))).as("redacted"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  regexp_replace(regexp_replace(
             |    'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-4567 re: ' || text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g') AS redacted
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QDef("q53_split",
      // Deterministic 80/10/10 split: per-row assignment oracle-checked
      // (the thresholds are written as the same left-to-right double
      // additions on both sides, so even the 0.8+0.1 rounding agrees).
      (s, d) => Splits.hashSplit(
        t(s, d, "documents").select("doc_id"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id")),
      Some(s"""$uCte
              |SELECT doc_id,
              |  CASE WHEN u < 0.8 THEN 'train'
              |       WHEN u < 0.8 + 0.1 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM u ORDER BY doc_id""".stripMargin)),

    QDef("q54_stratified_sample",
      // Per-stratum downsampling by the same portable hash; exact row
      // membership (not just counts) must match the oracle.
      (s, d) => Splits.stratifiedSample(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", Map("en" -> 0.5, "fr" -> 0.25), defaultFraction = 0.1)
        .orderBy(col("doc_id")),
      Some(s"""$uCte
              |SELECT doc_id, lang FROM u
              |WHERE u < CASE WHEN lang = 'en' THEN 0.5
              |               WHEN lang = 'fr' THEN 0.25
              |               ELSE 0.1 END
              |ORDER BY doc_id""".stripMargin)),

    QDef("q55_token_budget",
      // Per-language LLM token budgeting with the BPE-ish pre-tokenizer
      // count — the regex is restricted to constructs RE2 (DuckDB) and
      // Java regex (Spark) split identically, so the budget is
      // oracle-checked to the token.
      (s, d) => t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(sum(TextFunctions.bpeishTokenCount(col("text"))).as("tok_budget"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang")),
      Some("""SELECT lang,
             |  CAST(sum(len(regexp_extract_all(text,
             |    '''(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 '']+|''| +'))) AS BIGINT) AS tok_budget,
             |  count(*) AS n_docs
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    QDef("q56_semantic_dedup",
      // SemDeDup over the re-crawl corpus (each vector unioned with an
      // id-shifted exact clone; no natural pair reaches cos 0.99): the
      // min-id survivor rule must keep exactly the originals, which the
      // oracle states in closed form.
      (s, d) => {
        val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val recrawl = emb.unionByName(
          emb.select((col("vec_id") + CloneShift).as("vec_id"), col("embedding")))
        Dedup.semanticDedup(recrawl, "vec_id", "embedding")
          .select("vec_id").orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id FROM embeddings ORDER BY vec_id""")),

    QDef("q57_dedup_groups",
      // Transitive near-dup GROUP formation ON THE SCALE PATH: the pair
      // graph comes from MinHash-LSH (no all-pairs stage anywhere), then
      // connected components, component = min member id. At threshold
      // 0.6 the banding is retuned to 64 bands of r=2: candidate
      // probability at j=0.6 is 1-(1-0.6^2)^64 ≈ 1-4e-13, so the
      // verified pair set equals the exact-Jaccard graph and the oracle
      // recomputes reachability with a recursive CTE — iterative
      // min-label propagation must match closed-form graph reachability
      // exactly. (exactJaccardPairs is retired to test/oracle use only.)
      (s, d) => {
        val pairs = Dedup.minHashNearDupPairs(
          t(s, d, "documents"), "doc_id", "text",
          numHashes = 128, bands = 64, threshold = 0.6)
        Components.connectedComponents(pairs, "id_a", "id_b")
          .orderBy(col("id"))
      },
      Some(ccReachabilityOracle)),

    QDef("q58_repetition",
      // Gopher-style repetition signal: duplicate word-bigram fraction
      // (0 = clean prose, -> 1 = looping boilerplate). Exact rational.
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.duplicateBigramFraction(col("text")).as("dup_bigram_frac"))
        .orderBy(col("doc_id")),
      Some(s"""${tokCte()},
              |bg AS (
              |  SELECT doc_id, CASE WHEN len(tk) >= 2
              |    THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
              |    ELSE [] END AS b
              |  FROM tok
              |)
              |SELECT doc_id, CASE WHEN len(b) > 0
              |  THEN 1.0 - CAST(len(list_distinct(b)) AS DOUBLE) / len(b)
              |  ELSE 0.0 END AS dup_bigram_frac
              |FROM bg ORDER BY doc_id""".stripMargin)),

    QDef("q59_decontaminate",
      // Benchmark decontamination: per-doc fraction of trigram shingles
      // overlapping a (small, broadcast) benchmark shingle set — here
      // docs 0..19 stand in for the benchmark. The benchmark union is
      // one aggregated array broadcast to every executor; the per-doc
      // work is a narrow array_intersect, never a shuffle of the corpus.
      (s, d) => {
        val sh = Dedup.shingleSets(t(s, d, "documents"), "doc_id", "text", 3)
        val bench = sh.filter(col("id") < 20)
          .agg(array_distinct(flatten(collect_list(col("sh")))).as("bsh"))
        val contaminated = size(array_intersect(col("sh"), col("bsh")))
        sh.crossJoin(broadcast(bench))
          .select(col("id").as("doc_id"),
            size(col("sh")).cast("bigint").as("n_shingles"),
            contaminated.cast("bigint").as("n_contaminated"),
            when(size(col("sh")) > 0,
              contaminated.cast("double") / size(col("sh")))
              .otherwise(lit(0.0)).as("contamination"))
          .orderBy(col("doc_id"))
      },
      Some(s"""${tokCte()},
              |tri AS (
              |  SELECT doc_id, CASE WHEN len(tk) >= 3
              |    THEN list_distinct(list_transform(range(1, len(tk) - 1),
              |      i -> array_to_string(tk[i:i+2], ' ')))
              |    ELSE [] END AS sh
              |  FROM tok
              |),
              |bench AS (
              |  SELECT list_distinct(flatten(list(sh))) AS bsh FROM tri WHERE doc_id < 20
              |)
              |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
              |  CAST(len(list_intersect(sh, bsh)) AS BIGINT) AS n_contaminated,
              |  CASE WHEN len(sh) > 0
              |    THEN CAST(len(list_intersect(sh, bsh)) AS DOUBLE) / len(sh)
              |    ELSE 0.0 END AS contamination
              |FROM tri, bench ORDER BY doc_id""".stripMargin)),

    QDef("q60_image_decode",
      // REAL pixel decode (JDK ImageIO, no external codec), oracle-checked
      // in closed form: 64 planted solid-color 24-bit BMPs built by the
      // deterministic syntheticBmp writer; the decoded mean-RGB of a
      // solid image equals its planted color exactly, and the luminance
      // histogram concentrates in the one bin both engines compute with
      // identical double arithmetic (0.299r + 0.587g + 0.114b over
      // exact small integers).
      (s, _) => {
        import s.implicits._
        val imgs = (0 until 64).map { i =>
          (i.toLong, Multimodal.syntheticBmp(1 + i % 8, 1 + (i / 8) % 8)(
            (_, _) => (i * 4, 255 - i * 4, i)))
        }.toDF("doc_id", "payload")
        Multimodal.extractFeatures(imgs, "doc_id", "payload")
          .select(col("id").as("doc_id"),
            col("width").cast("bigint").as("width"),
            col("height").cast("bigint").as("height"),
            element_at(col("feature"), 1).cast("double").as("mean_r"),
            element_at(col("feature"), 2).cast("double").as("mean_g"),
            element_at(col("feature"), 3).cast("double").as("mean_b"),
            (array_position(slice(col("feature"), 4, 8), lit(1.0f)) - 1).as("lum_bin"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT CAST(i AS BIGINT) AS doc_id,
             |  CAST(1 + i % 8 AS BIGINT) AS width,
             |  CAST(1 + (i // 8) % 8 AS BIGINT) AS height,
             |  CAST(i * 4 AS DOUBLE) AS mean_r,
             |  CAST(255 - i * 4 AS DOUBLE) AS mean_g,
             |  CAST(i AS DOUBLE) AS mean_b,
             |  LEAST(7, CAST(FLOOR((0.299 * (i * 4) + 0.587 * (255 - i * 4) + 0.114 * i) / 32.0) AS BIGINT)) AS lum_bin
             |FROM range(0, 64) t(i) ORDER BY doc_id""".stripMargin))
  )

  // ---------------------------------------------------------------------------
  // Round 3: snapshot maintenance (MERGE/upsert, CDC apply) and fuzzy
  // entity resolution — the between-rebuild operations of a continuously
  // re-crawled corpus. Base side never shuffles in any of these plans.
  // ---------------------------------------------------------------------------

  private val maintenanceOps = Seq(
    QDef("q61_merge_upsert",
      // MERGE semantics: updated rows (x2 totalprice on every 10th key)
      // replace, brand-new keys (shifted by 2^40) insert, everything
      // else passes through. One anti join + union; updates broadcast.
      (s, d) => {
        val base = t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        val updates = base.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"))
          .unionByName(base.filter(col("o_orderkey") % 100 === 7)
            .select((col("o_orderkey") + CloneShift).as("o_orderkey"),
              col("o_custkey"), col("o_totalprice")))
        Merge.upsert(base, updates, Seq("o_orderkey")).orderBy(col("o_orderkey"))
      },
      Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
             |u AS (
             |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
             |  FROM base WHERE o_orderkey % 10 = 0
             |  UNION ALL
             |  SELECT o_orderkey + 1099511627776, o_custkey, o_totalprice
             |  FROM base WHERE o_orderkey % 100 = 7
             |)
             |SELECT * FROM (
             |  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
             |  UNION ALL SELECT * FROM u
             |) ORDER BY o_orderkey""".stripMargin)),

    QDef("q62_cdc_apply",
      // CDC feed: two updates on every 7th key (latest seq wins), a
      // delete on keys = 3 mod 11 (delete beats the updates where both
      // apply: it carries the highest seq), inserts on keys = 5 mod 13.
      // Sequence numbers are distinct per key, so the survivor is
      // unambiguous and both engines state it in closed form.
      (s, d) => {
        val base = t(s, d, "customer").select("c_custkey", "c_name", "c_acctbal")
        val changes = base.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), concat(col("c_name"), lit(" v1")).as("c_name"),
            col("c_acctbal"), lit(1L).as("seq"), lit("U").as("op"))
          .unionByName(base.filter(col("c_custkey") % 7 === 0)
            .select(col("c_custkey"), concat(col("c_name"), lit(" v2")).as("c_name"),
              col("c_acctbal"), lit(2L).as("seq"), lit("U").as("op")))
          .unionByName(base.filter(col("c_custkey") % 11 === 3)
            .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
              lit(3L).as("seq"), lit("D").as("op")))
          .unionByName(base.filter(col("c_custkey") % 13 === 5)
            .select((col("c_custkey") + CloneShift).as("c_custkey"),
              lit("new customer").as("c_name"), lit(0.0).as("c_acctbal"),
              lit(1L).as("seq"), lit("I").as("op")))
        Merge.applyChanges(base, changes, Seq("c_custkey"), "seq", "op")
          .orderBy(col("c_custkey"))
      },
      Some("""WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
             |ch AS (
             |  SELECT c_custkey, c_name || ' v1' AS c_name, c_acctbal, 1 AS seq, 'U' AS op
             |  FROM base WHERE c_custkey % 7 = 0
             |  UNION ALL
             |  SELECT c_custkey, c_name || ' v2', c_acctbal, 2, 'U' FROM base WHERE c_custkey % 7 = 0
             |  UNION ALL
             |  SELECT c_custkey, c_name, c_acctbal, 3, 'D' FROM base WHERE c_custkey % 11 = 3
             |  UNION ALL
             |  SELECT c_custkey + 1099511627776, 'new customer', 0.0, 1, 'I' FROM base WHERE c_custkey % 13 = 5
             |),
             |latest AS (
             |  SELECT c_custkey, arg_max(op, seq) AS op, arg_max(c_name, seq) AS c_name,
             |         arg_max(c_acctbal, seq) AS c_acctbal
             |  FROM ch GROUP BY c_custkey
             |)
             |SELECT c_custkey, c_name, c_acctbal FROM (
             |  SELECT * FROM base WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
             |  UNION ALL
             |  SELECT c_custkey, c_name, c_acctbal FROM latest WHERE op <> 'D'
             |) ORDER BY c_custkey""".stripMargin)),

    QDef("q63_fuzzy_join",
      // Entity resolution: five typo'd probe names (first char mangled)
      // matched back against the part catalog at edit distance <= 1.
      // Both engines run the identical Levenshtein DP, so match sets AND
      // distances hash-match. Probe side broadcast; corpus scan narrow.
      (s, d) => {
        val parts = t(s, d, "part").select("p_partkey", "p_name")
        val probe = parts.filter(col("p_partkey") < 5)
          .select(col("p_partkey").as("probe_id"),
            concat(lit("x"), expr("substring(p_name, 2)")).as("probe_name"))
        FuzzyJoin.byEditDistance(parts, probe, "p_name", "probe_name", 1)
          .select(col("probe_id"), col("probe_name"), col("p_partkey"),
            col("p_name"), col("edit_dist"))
          .orderBy(col("probe_id"), col("p_partkey"))
      },
      Some("""WITH probe AS (
             |  SELECT p_partkey AS probe_id, 'x' || substr(p_name, 2) AS probe_name
             |  FROM part WHERE p_partkey < 5
             |)
             |SELECT probe_id, probe_name, p_partkey, p_name,
             |  CAST(levenshtein(p_name, probe_name) AS BIGINT) AS edit_dist
             |FROM part, probe
             |WHERE abs(length(p_name) - length(probe_name)) <= 1
             |  AND levenshtein(p_name, probe_name) <= 1
             |ORDER BY probe_id, p_partkey""".stripMargin)),

    QDef("q64_profile",
      // Snapshot QA: per-column null/distinct/min/max in ONE aggregation
      // pass (long-format unpivot via stack — no per-column jobs).
      // exact=true here so the oracle can state distinct counts; the
      // operator's default is the HLL++ path for wide tables.
      (s, d) => Profile.summarize(t(s, d, "lineitem"),
        Seq("l_orderkey", "l_quantity", "l_returnflag"), exact = true),
      Some("""WITH s AS (
             |  SELECT 'l_orderkey' AS "column", count(*) AS n_rows,
             |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
             |    CAST(min(l_orderkey) AS DOUBLE) AS min_value, CAST(max(l_orderkey) AS DOUBLE) AS max_value
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'l_quantity', count(*),
             |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(count(DISTINCT l_quantity) AS BIGINT),
             |    CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'l_returnflag', count(*),
             |    CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(count(DISTINCT l_returnflag) AS BIGINT),
             |    NULL, NULL
             |  FROM lineitem
             |)
             |SELECT * FROM s ORDER BY "column"""".stripMargin)),

    QDef("q65_vocab_topk",
      // Vocabulary heavy hitters: corpus-wide token frequencies, top 20
      // with a unique tie-break. Explode is narrow; partial aggregation
      // combines map-side; the global top-k plans as
      // TakeOrderedAndProject (no full sort).
      (s, d) => t(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(20),
      Some(s"""${tokCte()}
              |SELECT token, count(*) AS cnt
              |FROM (SELECT unnest(tk) AS token FROM tok)
              |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin))
  )

  // ---------------------------------------------------------------------------
  // Training-data layout & retrieval surface (round 3): sequence packing,
  // chunking, BM25, bloom-prefiltered joins, integer PageRank, temperature
  // mixing, non-parquet sources, event transition matrices.
  // ---------------------------------------------------------------------------

  /** BM25 weight for one (doc, term) in identical SQL on both engines:
    * every operation is written once here so the evaluation order (and
    * therefore the IEEE result) coincides; only ln() can differ (by at
    * most 1 ulp), absorbed by the round(..., 6) on the final score.
    */
  private def bm25W(n: String, df: String, tf: String, dl: String, avgdl: String) =
    InvertedIndex.bm25Weight(n, df, tf, dl, avgdl)

  private val bm25Terms = Seq("join", "vector", "stream", "window")

  /** BM25 oracle CTEs `dl → st → tf → dfc → w → p` over the token
    * relation `src` (doc_id, tk): doc lengths, corpus N and avgdl, tf of
    * each of `terms`, df, the [[bm25W]] weight, and `p` with one `w<i>`
    * column per term. Continues a WITH list and ends at p's closing
    * parenthesis.
    */
  private def bm25Ctes(src: String, terms: Seq[String] = bm25Terms): String =
    s""", dl AS (
       |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM $src
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM dl
       |), tf AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(tk) AS tok FROM $src)
       |  WHERE tok IN (${terms.map("'" + _ + "'").mkString(", ")})
       |  GROUP BY doc_id, tok
       |), dfc AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
       |), w AS (
       |  SELECT tf.doc_id, tf.tok,
       |    ${bm25W("st.n", "dfc.df", "tf.tf", "dl.dl", "st.avgdl")} AS w
       |  FROM tf JOIN dfc USING (tok) JOIN dl USING (doc_id) CROSS JOIN st
       |), p AS (
       |  SELECT doc_id,
       |    ${terms.zipWithIndex.map { case (t, i) =>
              s"max(CASE WHEN tok = '$t' THEN w END) AS w$i" }.mkString(",\n    ")}
       |  FROM w GROUP BY doc_id
       |)""".stripMargin

  /** [[bm25Ctes]]' score over `p`: the per-term weights summed in
    * written order (never an order-free SUM over doubles), rounded to 6.
    */
  private def bm25Score(terms: Seq[String] = bm25Terms): String =
    s"round(${terms.indices.map(i => s"COALESCE(w$i, 0.0)").mkString(" + ")}, 6)"

  /** PageRank oracle: unrolled damped iterations as nested CTEs (DuckDB
    * recursive CTEs cannot carry aggregates over the recursive term).
    * Integer micro-unit arithmetic matches [[PageRank.run]] exactly.
    */
  /** Shared oracle CTE: the nation trade graph (top-120 customer-nation ->
    * supplier-nation flow edges) used by q70 and q79.
    */
  private val tradeEdgesCte =
    """pairs AS (
      |  SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS cnt
      |  FROM customer JOIN orders ON o_custkey = c_custkey
      |    JOIN lineitem ON l_orderkey = o_orderkey
      |    JOIN supplier ON s_suppkey = l_suppkey
      |  GROUP BY 1, 2
      |), edges AS (
      |  SELECT src, dst FROM pairs ORDER BY cnt DESC, src, dst LIMIT 120
      |)""".stripMargin

  /** The same trade graph on the Spark side. */
  private def tradeEdges(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("o_custkey") === col("c_custkey"))
      .join(t(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "supplier"), col("s_suppkey") === col("l_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("src"), col("dst")).limit(120)
      .select(col("src"), col("dst"))

  private def pagerankOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node, CAST(150000 + (85 * COALESCE(m.mass, 0)) // 100 AS BIGINT) AS rank
         |  FROM n LEFT JOIN (
         |    SELECT e.dst, SUM(r.rank // d.deg) AS mass
         |    FROM edges e JOIN deg d ON e.src = d.src JOIN r${i - 1} r ON r.node = e.src
         |    GROUP BY e.dst) m ON n.node = m.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradeEdgesCte, deg AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
       |), n AS (
       |  SELECT n_nationkey AS node FROM nation
       |), r0 AS (
       |  SELECT node, CAST(1000000 AS BIGINT) AS rank FROM n
       |),
       |$steps
       |SELECT node, rank FROM r$iters ORDER BY node""".stripMargin
  }

  private val trainingOps = Seq(
    QDef("q66_pack_sequences",
      // Concatenate-then-slice packing into 2048-token context windows,
      // sharded by source: the layout step between curation and training.
      // Pure integer window arithmetic -> bit-exact cross-engine.
      (s, d) => packed(t(s, d, "documents")).orderBy(col("source"), col("doc_id")),
      Some(s"""WITH tok AS (
             |  SELECT doc_id, source,
             |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
             |  FROM documents
             |${packingOracle("tok")}""".stripMargin)),

    QDef("q67_chunks",
      // RAG-style overlapping chunking: 200-char windows every 150 chars.
      // Narrow explode of a codegen'd transform; no UDF, no shuffle
      // before the (presentation-only) global sort.
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.chunks(col("text"), 200, 150)).as("c"))
        .select(col("doc_id"), col("c.chunk_start").as("chunk_start"),
          col("c.chunk_text").as("chunk_text"),
          length(col("c.chunk_text")).cast("long").as("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_start")),
      Some("""WITH g AS (
             |  SELECT doc_id, text,
             |    unnest(generate_series(1, greatest(length(text), 1), 150)) AS cs
             |  FROM documents
             |)
             |SELECT doc_id, CAST(cs AS BIGINT) AS chunk_start,
             |  substr(text, cs, 200) AS chunk_text,
             |  CAST(length(substr(text, cs, 200)) AS BIGINT) AS chunk_len
             |FROM g ORDER BY doc_id, chunk_start""".stripMargin)),

    QDef("q68_bm25",
      // BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed term set,
      // top 15. df/tf/dl are exact integers; the weight formula is the
      // SAME SQL string on both engines (bm25W) so evaluation order
      // matches; per-doc term weights are summed in FIXED written order
      // (w1+w2+w3+w4), never through an order-free SUM over doubles.
      (s, d) => {
        val docs = docTokens(s, d)
        val dl = docs.select(col("doc_id"), size(col("tk")).cast("long").as("dl"))
        val st = dl.agg(count(lit(1)).cast("long").as("n"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
        val tf = docs.select(col("doc_id"), explode(col("tk")).as("tok"))
          .filter(col("tok").isin(bm25Terms: _*))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).cast("long").as("tf"))
        val dfc = tf.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("df"))
        val w = tf.join(dfc, "tok").join(dl, "doc_id").crossJoin(broadcast(st))
          .withColumn("w", expr(bm25W("n", "df", "tf", "dl", "avgdl")))
        val byTerm = bm25Terms.zipWithIndex.map { case (term, i) =>
          max(when(col("tok") === term, col("w"))).as(s"w$i")
        }
        val score = bm25Terms.indices
          .map(i => coalesce(col(s"w$i"), lit(0.0)))
          .reduceLeft(_ + _)
        w.groupBy(col("doc_id")).agg(byTerm.head, byTerm.tail: _*)
          .select(col("doc_id"), round(score, 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id")).limit(15)
      },
      Some(s"""${tokCte()}${bm25Ctes("tok")}
              |SELECT doc_id,
              |  ${bm25Score()} AS bm25
              |FROM p ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)),

    QDef("q69_bloom_semi",
      // Bloom-prefiltered fact-dim semi join, aggregated: the runtime-
      // filter shape made explicit. The bloom removes non-matching fact
      // rows before the join; the exact join removes false positives, so
      // the result equals the plain semi join the oracle states.
      (s, d) => BloomJoin.semiJoin(
        t(s, d, "lineitem"), "l_suppkey",
        t(s, d, "supplier").filter(col("s_nationkey") < 5), "s_suppkey",
        expectedItems = 10000L)
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(col("l_quantity")).as("sum_qty")),
      Some("""SELECT CAST(count(*) AS BIGINT) AS cnt, sum(l_quantity) AS sum_qty
             |FROM lineitem
             |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5)""".stripMargin)),

    QDef("q70_pagerank",
      // Integer PageRank (5 damped iterations) over the nation trade
      // graph: top-120 (customer-nation -> supplier-nation) flow edges.
      // Micro-unit integer arithmetic -> bit-exact vs the unrolled-CTE
      // oracle; see operators/PageRank.scala for the scale shape.
      (s, d) => {
        val nodes = t(s, d, "nation").select(col("n_nationkey").as("node"))
        PageRank.run(s, tradeEdges(s, d), nodes, 5).orderBy(col("node"))
      },
      Some(pagerankOracle(5))),

    QDef("q79_triangles",
      // Triangle counting on the undirected trade graph with DEGREE-
      // ordered edge orientation (Triangles.count): each triangle is
      // matched exactly once as one wedge + one closing edge, and
      // orienting by (degree, id) bounds every join key's multiplicity
      // by O(sqrt(m)) — the skew-proof variant the r3 id-ordering
      // conceded. The count is orientation-invariant, so the oracle is
      // unchanged.
      (s, d) => Triangles.countTriangles(tradeEdges(s, d), "src", "dst"),
      Some(s"""WITH $tradeEdgesCte, und AS (
              |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              |  FROM edges WHERE src <> dst
              |)
              |SELECT (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
              |  CAST(count(*) AS BIGINT) AS n_triangles
              |FROM und e1 JOIN und e2 ON e1.b = e2.a
              |  JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b""".stripMargin)),

    QDef("q71_mix_sample",
      // Temperature-0.5 language rebalancing: stratum s keeps a
      // sqrt(min_count/count_s) share via the portable md5 draw, so the
      // EXACT surviving row set is cross-engine reproducible (sqrt and
      // the draw are both correctly-rounded IEEE ops).
      (s, d) => Splits.temperatureBalance(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", salt = "mix")
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id")),
      Some("""WITH c AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
             |), m AS (
             |  SELECT min(n) AS minn FROM c
             |), r AS (
             |  SELECT lang, sqrt(CAST(minn AS DOUBLE) / n) AS rate FROM c CROSS JOIN m
             |)
             |SELECT d.doc_id, d.lang
             |FROM documents d JOIN r ON d.lang = r.lang
             |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix'), 1, 8)) AS UBIGINT)
             |    / 4294967296.0 < r.rate
             |ORDER BY d.doc_id""".stripMargin)),

    QDef("q72_format_roundtrip",
      // Non-parquet sources as first-class citizens: the same relation
      // written to and read back from CSV, JSON and ORC (the three
      // non-parquet formats Spark bundles), joined, equal to the parquet
      // original (which is what the oracle states). Exercises the full
      // write->list->parse path of all three connectors.
      (s, d) => {
        // unique per-invocation dir (shutdown-hook cleaned): two
        // concurrent verify/bench processes must not race on one path
        val dir = scratchDir("q72")
        val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        sup.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
        sup.write.mode("overwrite").json(s"$dir/json")
        sup.write.mode("overwrite").orc(s"$dir/orc")
        val csv = s.read.option("header", "true").schema(sup.schema).csv(s"$dir/csv")
        val json = s.read.schema(sup.schema).json(s"$dir/json")
        val orc = s.read.orc(s"$dir/orc")
        csv.as("c").join(json.as("j"), "s_suppkey")
          .join(orc.as("o"), "s_suppkey")
          .select(col("s_suppkey"), col("c.s_name").as("s_name"),
            col("o.s_nationkey").as("s_nationkey"))
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT s_suppkey, s_name, s_nationkey
             |FROM supplier ORDER BY s_suppkey""".stripMargin)),

    QDef("q73_transitions",
      // First-order event transition matrix (Markov counts): lag within
      // each user's time-ordered stream, then one map-side-combined
      // count per (prev, next) pair. The per-user window is the only
      // wide op and is bounded by per-user history.
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type"))
          .agg(count(lit(1)).cast("long").as("cnt"))
          .orderBy(col("prev_type"), col("event_type"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
             |  FROM events
             |)
             |SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS cnt
             |FROM g WHERE prev_type IS NOT NULL
             |GROUP BY prev_type, event_type
             |ORDER BY prev_type, event_type""".stripMargin)),

    QDef("q186_token_budget_mix",
      // THE TRAINING-MIXTURE ASSEMBLY STEP (Splits.tokenBudgetMix): an
      // LLM data mix is specified as TOKENS PER SOURCE, not doc counts
      // or keep fractions, so the sampler cuts each stratum when its
      // running token sum reaches the quota — docs consumed in
      // portable-hash order (the q53/q54 md5 draw: stable under
      // partitioning/retries, recomputable by the oracle), kept while
      // the tokens BEFORE them are under budget, so the quota is met
      // with an overshoot of at most one document. Three regimes in one
      // run: src0's 500-token budget cuts mid-stratum (the normal case),
      // src1's 1M budget keeps the stratum whole (never delete data to
      // fit a mix), every other source keeps nothing (absent from the
      // mix). EXACT ROW MEMBERSHIP matches the oracle — the md5 order,
      // the long running sum, and the cut all recompute cross-engine.
      // At 100 TB: one exchange on source + a per-source window sort,
      // parallel across sources; a mega-source pre-thins with
      // stratifiedSample before the cut.
      (s, d) => Splits.tokenBudgetMix(
        t(s, d, "documents").select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("ntok")),
        "doc_id", "source", "ntok",
        Map("src0" -> 500L, "src1" -> 1000000L))
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (
             |  SELECT doc_id, source,
             |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ntok,
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
             |      / 4294967296.0 AS u
             |  FROM documents
             |), cum AS (
             |  SELECT doc_id, source, ntok,
             |    COALESCE(sum(ntok) OVER (PARTITION BY source ORDER BY u, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
             |  FROM tok
             |)
             |SELECT doc_id, source, ntok FROM cum
             |WHERE before < CASE source WHEN 'src0' THEN 500
             |                           WHEN 'src1' THEN 1000000
             |                           ELSE 0 END
             |ORDER BY doc_id""".stripMargin)),

    QDef("q189_epoch_order",
      // DETERMINISTIC PER-EPOCH TRAINING ORDER (Splits.epochOrder) —
      // the data-ordering step between packing and the trainer: each
      // doc's position within its shard is the rank of a portable
      // (key, epoch)-salted hash, so every epoch is a DIFFERENT
      // permutation (epoch 0's and epoch 1's orders decorrelate like
      // independent shuffles) yet each is a pure function of the key —
      // restarts, backfills and repartitioning cannot move a sample,
      // and the oracle recomputes BOTH epochs' exact positions from
      // the same md5 ranks (numeric first-8-hex order, key tiebreak —
      // the q53/q54 draw). Shard-local by design: one bounded window
      // per shard, parallel across shards; a global shuffle order would
      // need a global sort that trainers reading shards independently
      // never benefit from.
      (s, d) => {
        val base = t(s, d, "documents").select(col("doc_id"), col("source"))
        Splits.epochOrder(
          Splits.epochOrder(base, "doc_id", "source", epoch = 0L, "pos_e0"),
          "doc_id", "source", epoch = 1L, "pos_e1")
          .orderBy(col("doc_id"))
      },
      Some("""WITH u AS (
             |  SELECT doc_id, source,
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':epoch=0'), 1, 8)) AS UBIGINT) AS u0,
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':epoch=1'), 1, 8)) AS UBIGINT) AS u1
             |  FROM documents
             |)
             |SELECT doc_id, source,
             |  CAST(row_number() OVER (PARTITION BY source ORDER BY u0, doc_id) AS BIGINT) AS pos_e0,
             |  CAST(row_number() OVER (PARTITION BY source ORDER BY u1, doc_id) AS BIGINT) AS pos_e1
             |FROM u ORDER BY doc_id""".stripMargin))
  )

  // ---------------------------------------------------------------------------
  // Data-quality gate, distribution profiling, retrieval index.
  // ---------------------------------------------------------------------------

  /** Shared Spark/DuckDB SQL for the q75 bucket id so both engines run
    * the identical IEEE expression (subtract, multiply, divide, floor).
    */
  private def bucketExpr(x: String, mn: String, mx: String, k: Int) =
    s"CAST(CASE WHEN $mx = $mn THEN 0 ELSE least(${k - 1}, floor(($x - $mn) * $k.0 / ($mx - $mn))) END AS BIGINT)"

  private val qualityOps = Seq(
    QDef("q74_checks",
      // Admission gate over lineitem: the row-local checks fold into one
      // aggregation pass; the FK check is one broadcast anti join. Exact
      // integer violation counts -> bit-exact cross-engine.
      (s, d) => Checks.run(t(s, d, "lineitem"), Seq(
        Checks.NotNull("l_orderkey"),
        Checks.Unique(Seq("l_orderkey", "l_linenumber")),
        Checks.InRange("l_quantity", 1.0, 50.0),
        Checks.Accepted("l_returnflag", Seq("A", "N", "R")),
        Checks.RefIntegrity("l_orderkey", t(s, d, "orders"), "o_orderkey")))
        .orderBy(col("check")),
      Some("""WITH gate AS (
             |  SELECT 'not_null(l_orderkey)' AS "check",
             |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'unique(l_orderkey,l_linenumber)',
             |    CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'in_range(l_quantity,1.0,50.0)',
             |    CAST(sum(CASE WHEN l_quantity IS NOT NULL
             |                   AND (l_quantity < 1.0 OR l_quantity > 50.0)
             |                  THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'accepted(l_returnflag)',
             |    CAST(sum(CASE WHEN l_returnflag IS NOT NULL
             |                   AND l_returnflag NOT IN ('A', 'N', 'R')
             |                  THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'ref_integrity(l_orderkey)',
             |    CAST((SELECT count(*) FROM lineitem
             |          WHERE l_orderkey IS NOT NULL
             |            AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT)
             |)
             |SELECT "check", violations, violations = 0 AS passed
             |FROM gate ORDER BY "check"""".stripMargin)),

    QDef("q75_histogram",
      // Equi-width 20-bucket histogram of l_extendedprice from global
      // min/max: two passes (tiny stats row broadcast back), bucket id
      // is the SAME SQL expression on both engines (bucketExpr) so the
      // float ops agree bit-for-bit; max lands in the last bucket.
      (s, d) => {
        val li = t(s, d, "lineitem")
        val st = li.agg(min(col("l_extendedprice")).as("mn"),
          max(col("l_extendedprice")).as("mx"))
        li.crossJoin(broadcast(st))
          .select(expr(bucketExpr("l_extendedprice", "mn", "mx", 20)).as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).cast("long").as("cnt"))
          .orderBy(col("bucket"))
      },
      Some(s"""WITH s AS (
              |  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem
              |)
              |SELECT ${bucketExpr("l_extendedprice", "mn", "mx", 20)} AS bucket,
              |  CAST(count(*) AS BIGINT) AS cnt
              |FROM lineitem CROSS JOIN s
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QDef("q77_hll_sketch",
      // Mergeable distinct-count sketches (Apache DataSketches HLL via
      // hll_sketch_agg): the incremental-pipeline primitive — per-batch
      // sketches union without rescanning history. Driver-checked with
      // the q37 literal-TRUE gate pattern: the estimate must land within
      // 5% of the exact count, which the oracle states as TRUE.
      (s, d) => t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).cast("long").as("n_exact"),
          hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("est"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("est") - col("n_exact")).cast("double") <=
            col("n_exact") * 0.05).as("within_5pct"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
             |  TRUE AS within_5pct
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QDef("q78_approx_quantile",
      // Quantile sketch with an in-query error certificate: some rank of
      // the returned value must sit within the sketch's rank bound
      // (n/accuracy + 1) of n/2. Duplicated values occupy a rank
      // INTERVAL (rank_lt, rank_le], so the gate checks interval overlap
      // — count(<= apx) alone would overstate the rank and could fail a
      // correct sketch on heavy duplicates. Recomputed against the data,
      // so the gate is evidence, not trust; oracle states the certificate.
      (s, d) => {
        val li = t(s, d, "lineitem")
        val ap = li.agg(
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("apx"),
          count(lit(1)).cast("long").as("n"))
        li.crossJoin(broadcast(ap))
          .agg(max(col("n")).as("n"),
            sum(when(col("l_extendedprice") < col("apx"), 1L).otherwise(0L))
              .as("rank_lt"),
            sum(when(col("l_extendedprice") <= col("apx"), 1L).otherwise(0L))
              .as("rank_le"))
          .select(col("n"),
            ((col("rank_lt").cast("double") + 1.0 <=
              col("n") * 0.5 + (col("n").cast("double") / 1000.0 + 1.0)) &&
             (col("rank_le").cast("double") >=
              col("n") * 0.5 - (col("n").cast("double") / 1000.0 + 1.0)))
              .as("within_rank_error"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n, TRUE AS within_rank_error
             |FROM lineitem""".stripMargin)),

    QDef("q76_inverted_index",
      // Posting lists for the retrieval terms: distinct sorted doc ids
      // per term. One shuffle on the term key; lists bounded by document
      // frequency (full-vocabulary buckets: q80). The list is emitted as
      // a comma-joined string because the driver's pandas canonicalizer
      // cannot sort/hash ndarray cells (same constraint as q33); the
      // array form itself is asserted in RetrievalOpsSpec.
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .filter(col("tok").isin(bm25Terms: _*))
        .groupBy(col("tok"))
        // size-of-set, not count_distinct: a distinct agg next to
        // collect_set would trigger the distinct-expansion double shuffle
        .agg(sort_array(collect_set(col("doc_id"))).as("postings_arr"))
        .select(col("tok"),
          size(col("postings_arr")).cast("long").as("n_docs"),
          array_join(transform(col("postings_arr"), _.cast("string")), ",")
            .as("postings"))
        .orderBy(col("tok")),
      Some(postingsOracle(tokCte(), bm25Terms)))
  )

  // ---------------------------------------------------------------------------
  // Retrieval-index surface (round 4): bucketed full-vocabulary inverted
  // index and the bucket-merging term lookup over it.
  // ---------------------------------------------------------------------------

  /** Doc-id bucket width for the vocabulary-index catalog entries (small so
    * the catalog corpus actually exercises multi-bucket terms; production
    * would use ~1e6).
    */
  private val IndexBucket = 64L

  /** One (doc_id, tok) row per token occurrence of every document. */
  private def docPostings(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))

  /** `docs` tokenised: (doc_id, tk) with TextFunctions' whitespace tokens. */
  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))

  /** The tokenised `documents` table. */
  private def docTokens(s: SparkSession, d: String): DataFrame =
    tokenized(t(s, d, "documents"))

  /** Admit one batch of tokenised docs into the index store at `root`. */
  private def admitDocs(s: SparkSession, docs: DataFrame, batchId: Long,
      root: String): Unit =
    InvertedIndex.admitBatch(s, docs, "doc_id", "tk", IndexBucket, batchId, root)

  /** Append one batch of tokenised docs to the flat index at `path`. */
  private def appendDocs(docs: DataFrame, batchId: Long, path: String): Unit =
    InvertedIndex.appendBatch(docs, "doc_id", "tk", IndexBucket, batchId, path)

  /** The catalog's IVF-PQ fit over (vec_id, embedding): 16 lists, 16 codes
    * per sub-quantizer, 2 PQ iterations; `kmeansIters` and `m` default to
    * 3 and 16 (the smaller store fixtures fit with 2 and 8).
    */
  private def fitIvfPq(corpus: DataFrame, kmeansIters: Int = 3, m: Int = 16) =
    Similarity.fitIvfPq(corpus, "vec_id", "embedding", nlist = 16,
      kmeansIters = kmeansIters, m = m, kcode = 16, pqIters = 2)

  /** A CAS refit of the vector store at `root` with [[fitIvfPq]]'s defaults. */
  private def refitIvfPq(s: SparkSession, root: String, expectedGen: Long): Long =
    VectorStore.refit(s, root, expectedGen,
      nlist = 16, kmeansIters = 3, m = 16, kcode = 16, pqIters = 2)

  /** The catalog's IVF-PQ search width: probe 12 of the 16 lists and
    * re-rank a 32×k shortlist (q116 measures recall 0.94 with these at
    * 10× scale, where narrower settings fall to 0.76).
    */
  private val Nprobe = 12
  private val Shortlist = 32

  /** The catalog's vector-store search: top-`k` over (vec_id, embedding)
    * of `q` in generation `gen` (default: the current one).
    */
  private def storeSearch(s: SparkSession, root: String, q: DataFrame,
      gen: Option[Long] = None, k: Int = 5): DataFrame =
    VectorStore.searchGen(s, root, gen.getOrElse(VectorStore.currentGen(root)),
      q, "vec_id", "embedding", k, nprobe = Nprobe, shortlistFactor = Shortlist)

  /** [[storeSearch]] collected: (query_id, rank, neighbor_id, cosine). */
  private def searchRows(s: SparkSession, root: String,
      q: DataFrame): Seq[(Long, Long, Long, Double)] =
    storeSearch(s, root, q).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

  /** In-memory IVF-PQ search of `q` over `emb` with fitted (cs, bs). */
  private def ivfPqSearch(q: DataFrame, emb: DataFrame,
      cs: Array[Array[Double]], bs: Array[Array[Array[Double]]]): DataFrame =
    Similarity.ivfPqSearch(q, emb, "vec_id", "embedding", 5, cs, bs,
      nprobe = Nprobe, nassign = 2, shortlistFactor = Shortlist)

  /** True iff `body` is refused with an IllegalArgumentException whose
    * message contains one of `anyOf`; any other failure propagates.
    */
  private def refuses(anyOf: String*)(body: => Any): Boolean =
    try { body; false }
    catch { case e: IllegalArgumentException => anyOf.exists(e.getMessage.contains(_)) }

  /** Run a gen-1 → gen-2 compaction twice: the retry must be a CAS no-op
    * (both answer gen 2 and no gen=3 appears under `root`).
    */
  private def casRetryNoop(root: String)(compact: => Long): Boolean = {
    val gen2 = compact
    val retry = compact
    gen2 == 2L && retry == 2L &&
      !java.nio.file.Files.exists(java.nio.file.Paths.get(root, "gen=3"))
  }

  private implicit class GateColumns(df: DataFrame) {
    /** `df` with one literal column per (name, value) gate, in order. */
    def withGates(gates: (String, Any)*): DataFrame =
      gates.foldLeft(df) { case (acc, (n, v)) => acc.withColumn(n, lit(v)) }
  }

  /** Per-query gate frame of a served answer (rows keyed by query id):
    * query_id, its n_results, then the literal `gates`, by query_id —
    * what [[gateOracle]] states.
    */
  private def gateFrame(s: SparkSession, served: Seq[Product],
      gates: (String, Any)*): DataFrame = {
    import s.implicits._
    val ids = served.map(_.productElement(0).asInstanceOf[Long])
    ids.distinct.sorted.map(q => (q, ids.count(_ == q).toLong))
      .toDF("query_id", "n_results").withGates(gates: _*).orderBy(col("query_id"))
  }

  /** The index store at `root`: initialised, then one [[admitDocs]] per
    * part with batch ids 0, 1, ….
    */
  private def indexStore(s: SparkSession, root: String, parts: DataFrame*): Unit = {
    InvertedIndex.initStore(root)
    parts.zipWithIndex.foreach { case (p, b) => admitDocs(s, p, b.toLong, root) }
  }

  /** The vector store at `root` under the fitted `index`: initialised,
    * then one (vec_id, embedding) admit per part with batch ids 0, 1, ….
    */
  private def vectorStore(s: SparkSession, root: String,
      index: (Array[Array[Double]], Array[Array[Array[Double]]]),
      parts: DataFrame*): Unit = {
    VectorStore.init(s, root, index._1, index._2)
    parts.zipWithIndex.foreach { case (p, b) =>
      VectorStore.admit(s, root, p, "vec_id", "embedding", b.toLong)
    }
  }

  /** The catalog's portable MinHash band keys (id, band, bucket) of
    * (doc_id, text) `docs`, derived once per query: admits, deletes and
    * probes slice this checkpointed key set by id, which is bit-identical
    * to deriving from the sliced docs because the derivation is row-local.
    */
  private def signatureKeys(docs: DataFrame): DataFrame =
    Dedup.minHashBandKeys(docs, "doc_id", "text",
      n = 3, numHashes = 32, bands = 8, portableKeys = true).localCheckpoint()

  /** The signature store at `root`: initialised, then one key-set part per
    * batch with batch ids 0, 1, ….
    */
  private def signatureStore(root: String, parts: DataFrame*): Unit = {
    KeySetStore.init(root)
    parts.zipWithIndex.foreach { case (p, b) =>
      Dedup.admitMinHashKeysBatch(p, batchId = b.toLong, root = root)
    }
  }

  /** What a [[compactionCycle]] saw: the read captured before compaction,
    * the fragment counts before, after compaction and after the admit on
    * top, the CAS retry no-op, and whether the read survived compaction.
    */
  private final case class Compaction[A](pre: A, before: Long, compacted: Long,
      afterAdmit: Long, retryNoop: Boolean, readEq: Boolean) {
    /** The fragment and retry gates, as the catalog names them. */
    def gates: Seq[(String, Any)] = Seq("frags_before" -> before,
      "frags_compacted" -> compacted, "frags_after_admit" -> afterAdmit,
      "retry_noop" -> retryNoop)
  }

  /** The admission-store family's compaction cycle on a gen-1 store at
    * `root`: count the fragments, capture `read`, compact to gen 2 through
    * [[casRetryNoop]], count again and re-read; then `onTop` (checks of
    * the compacted store, ending with one batch admitted on top) and count
    * once more. Returns what the cycle saw and what `onTop` returned.
    */
  private def compactionCycle[A, B](root: String, frags: => Long, read: => A)(
      compact: => Long)(onTop: => B): (Compaction[A], B) = {
    val before = frags
    val pre = read
    val retryNoop = casRetryNoop(root)(compact)
    val compacted = frags
    val readEq = read == pre
    val checks = onTop
    (Compaction(pre, before, compacted, frags, retryNoop, readEq), checks)
  }

  /** The takedown cycle on a gen-1 store: `delete`, read the pending
    * answer, replay the delete (and `alsoReplay`), which must leave the
    * read unmoved, then `compact` and read again. Returns the pending read,
    * replay_noop and post_eq_pending.
    */
  private def takedownCycle[A](read: => A)(delete: => Unit,
      alsoReplay: => Unit = ())(compact: => Any): (A, Boolean, Boolean) = {
    delete
    val pending = read
    delete
    alsoReplay
    val replayNoop = read == pending
    compact
    (pending, replayNoop, read == pending)
  }

  /** The purge check: generation directory `genDir` holds no pending
    * deletes.
    */
  private def noPendingDeletes(genDir: String): Boolean =
    !java.nio.file.Files.exists(java.nio.file.Paths.get(genDir, "deletes"))

  /** BM25 rows collected as (doc_id, bm25). */
  private def bm25Rows(bm25: DataFrame): Seq[(Long, Double)] =
    bm25.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  /** BM25 top-15 of the index generation manifest version `ver` pins. */
  private def pinnedBm25(s: SparkSession, root: String, mroot: String,
      ver: Long): DataFrame =
    InvertedIndex.bm25SearchStore(s,
      InvertedIndex.genDir(root, Manifest.resolve(mroot, ver, "index")), bm25Terms, 15)

  /** Exhaustive store search of generation `gen` (default: the current
    * one): all 16 lists probed and a shortlist covering the corpus, so the
    * exact-cosine re-rank returns the brute-force top-`k` and store
    * equalities are strict.
    */
  private def exhaustiveFrame(s: SparkSession, root: String, q: DataFrame,
      gen: Option[Long] = None, k: Int = 5, tier: String = "pq"): DataFrame =
    VectorStore.searchGen(s, root, gen.getOrElse(VectorStore.currentGen(root)),
      q, "vec_id", "embedding", k, nprobe = 16, shortlistFactor = 1000, tier = tier)

  /** [[exhaustiveFrame]] collected and sorted: (query_id, rank, neighbor_id). */
  private def exhaustiveSearch(s: SparkSession, root: String, q: DataFrame,
      gen: Option[Long] = None): Seq[(Long, Long, Long)] =
    exhaustiveFrame(s, root, q, gen)
      .select(col("query_id"), col("rank").cast("long"), col("neighbor_id"))
      .collect().toSeq.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted

  /** The three-store fleet (index, vectors, signatures) compacted from
    * generation `gen`; disjoint roots, so the three folds overlap.
    */
  private def fleetCompact(s: SparkSession, iroot: String, vroot: String,
      kroot: String, gen: Long): Unit =
    Par.all(Seq(
      () => InvertedIndex.compactStore(s, iroot, expectedGen = gen): Unit,
      () => VectorStore.compactGen(s, vroot, expectedGen = gen): Unit,
      () => KeySetStore.compactStore(s, kroot, expectedGen = gen): Unit))

  /** The fleet takedown: doc_id % 7 == 3 deleted from all three stores,
    * as doc ids, vector ids and the dead docs' `sigKeys`; overlapped.
    */
  private def fleetTakedown(s: SparkSession, docs: DataFrame, emb: DataFrame,
      sigKeys: DataFrame, iroot: String, vroot: String, kroot: String): Unit =
    Par.all(Seq(
      () => InvertedIndex.admitDeleteBatch(s,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"), "doc_id", 0L, iroot): Unit,
      () => VectorStore.admitDeletes(s, vroot,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), "vec_id", 0L): Unit,
      () => Dedup.deleteMinHashKeysBatch(sigKeys.filter(col("id") % 7 === 3),
        batchId = 0L, root = kroot): Unit))

  /** The CDC sync scenarios' query terms. */
  private val syncTerms = Seq("graftsync", "join", "vector")

  /** A CDC upsert batch at `seq`: the docs with doc_id % `every` == 0,
    * re-crawled with `suffix` appended.
    */
  private def cdcUpserts(docs: DataFrame, every: Int, suffix: String,
      seq: Long): DataFrame =
    docs.filter(col("doc_id") % every === 0)
      .select(col("doc_id"), concat(col("text"), lit(suffix)).as("text"),
        lit(seq).as("seq"), lit("U").as("op"))

  /** A CDC insert batch at seq 1: the docs with doc_id % 10 == `klass`,
    * re-crawled under ids shifted by 1,000,000 with "graftsync " prepended.
    */
  private def cdcInserts(docs: DataFrame, klass: Int): DataFrame =
    docs.filter(col("doc_id") % 10 === klass)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("graftsync "), col("text")).as("text"),
        lit(1L).as("seq"), lit("I").as("op"))

  /** A CDC delete batch at `seq`: the docs with doc_id % 10 == `klass`. */
  private def cdcDeletes(docs: DataFrame, klass: Int, seq: Long = 1L): DataFrame =
    docs.filter(col("doc_id") % 10 === klass)
      .select(col("doc_id"), col("text"), lit(seq).as("seq"), lit("D").as("op"))

  /** The sync scenarios' change script over (doc_id, text), the corpus
    * [[cdcSyncLookupOracle]] states: v1 re-crawls doc_id % 10 == 0 with
    * two extra tokens; v2 inserts shifted re-crawls of % 10 == 2 and
    * deletes % 10 == 7; v3 re-crawls % 20 == 0 again with one.
    */
  private def cdcMutations(docs: DataFrame): Seq[DataFrame] = Seq(
    cdcUpserts(docs, 10, " graftsync graftsync", 1L),
    cdcInserts(docs, 2).unionByName(cdcDeletes(docs, 7)),
    cdcUpserts(docs, 20, " graftsync", 2L))

  /** Publish one change batch keyed on doc_id to the CDC store at `cdc`. */
  private def publishDocs(s: SparkSession, cdc: String, changes: DataFrame): Long =
    EventStreams.publishCdcBatch(s, cdc, changes, Seq("doc_id"), "seq", "op")

  /** One CdcSync tick of the index store at `root` from the CDC store at
    * `cdc`, whose (doc_id, text) payload is tokenised as [[tokenized]].
    */
  private def syncIndex(s: SparkSession, cdc: String, root: String): Long =
    CdcSync.syncIndexFromCdc(s, cdc, root, "doc_id", "tk", IndexBucket, tokenized)

  /** One CdcSync tick of the vector store at `root` over (`id`, embedding);
    * the bootstrap tick fits the sync artifact: 16 lists, 16 sub-quantizers
    * of 16 codes, 5 k-means and 5 PQ iterations.
    */
  private def syncVectors(s: SparkSession, cdc: String, root: String,
      id: String): Long =
    CdcSync.syncVectorsFromCdc(s, cdc, root, id, "embedding",
      _.select(col(id), col("embedding")),
      nlist = 16, kmeansIters = 5, m = 16, kcode = 16, pqIters = 5)

  /** A one-shot index store at `root` over the CDC store's current snapshot. */
  private def freshIndex(s: SparkSession, cdc: String, root: String): Unit =
    indexStore(s, root, tokenized(EventStreams.currentCdcSnapshot(s, cdc)))

  /** A lookup frame as the sync scenarios emit it: (tok, n_docs, postings
    * joined by commas), by tok.
    */
  private def postingsFrame(lookup: DataFrame): DataFrame =
    lookup.select(col("tok"), col("n_docs"),
        array_join(transform(col("postings"), _.cast("string")), ",").as("postings"))
      .orderBy(col("tok"))

  /** The index store's served surfaces for [[syncTerms]], collected: the
    * postings frame and the BM25 top-10.
    */
  private def indexSurfaces(s: SparkSession, root: String) = (
    postingsFrame(InvertedIndex.lookupCurrent(s, root, syncTerms)).collect().toSeq,
    InvertedIndex.bm25SearchCurrent(s, root, syncTerms, 10).collect().toSeq)

  /** Oracle of a [[postingsFrame]] over the `tok` CTE that `withTok`
    * ends with: per term of `terms`, its document count and its sorted
    * doc ids joined by commas, by tok.
    */
  private def postingsOracle(withTok: String, terms: Seq[String]): String =
    s"""$withTok
       |SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  array_to_string(list_transform(list_sort(list(DISTINCT doc_id)),
       |    x -> CAST(x AS VARCHAR)), ',') AS postings
       |FROM (SELECT doc_id, unnest(tk) AS tok FROM tok)
       |WHERE tok IN (${terms.map("'" + _ + "'").mkString(", ")})
       |GROUP BY tok ORDER BY tok""".stripMargin

  /** [[postingsOracle]] of the [[syncTerms]] over a synced corpus: `mut`
    * is the body of the `mut` CTE (doc_id, text), the corpus after the
    * scenario's change batches.
    */
  private def syncPostingsOracle(mut: String): String =
    postingsOracle(s"""WITH mut AS (
       |$mut
       |), tok AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
       |  FROM mut
       |)""".stripMargin, syncTerms)

  /** Oracle of the MMR re-rank at k = 5, lambda = 0.5 of the 10 query
    * vectors (vec_id < 10) over their brute-force top-25 pool, the greedy
    * unrolled into five chained CTEs (q159 states why).
    */
  private val mmrOracle =
    """WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id < 10
      |), sc AS (
      |  SELECT query_id, vec_id AS id,
      |    list_cosine_similarity(qv, CAST(embedding AS DOUBLE[])) AS cos,
      |    CAST(embedding AS DOUBLE[]) AS v
      |  FROM q, embeddings WHERE vec_id <> query_id
      |), pool AS (
      |  SELECT query_id, id, cos, v FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, id) AS rn FROM sc) WHERE rn <= 25
      |), s1 AS (
      |  SELECT query_id, id, cos, v FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY 0.5*cos DESC, id) AS pk FROM pool) WHERE pk = 1
      |), s2 AS (
      |  SELECT query_id, id, cos, v FROM (
      |    SELECT p.query_id, p.id, p.cos, p.v,
      |      row_number() OVER (PARTITION BY p.query_id ORDER BY
      |        0.5*p.cos - 0.5*list_cosine_similarity(p.v, a.v) DESC,
      |        p.id) AS pk
      |    FROM pool p JOIN s1 a USING (query_id)
      |    WHERE p.id <> a.id) WHERE pk = 1
      |), s3 AS (
      |  SELECT query_id, id, cos, v FROM (
      |    SELECT p.query_id, p.id, p.cos, p.v,
      |      row_number() OVER (PARTITION BY p.query_id ORDER BY
      |        0.5*p.cos - 0.5*greatest(
      |          list_cosine_similarity(p.v, a.v),
      |          list_cosine_similarity(p.v, b.v)) DESC, p.id) AS pk
      |    FROM pool p JOIN s1 a USING (query_id) JOIN s2 b USING (query_id)
      |    WHERE p.id NOT IN (a.id, b.id)) WHERE pk = 1
      |), s4 AS (
      |  SELECT query_id, id, cos, v FROM (
      |    SELECT p.query_id, p.id, p.cos, p.v,
      |      row_number() OVER (PARTITION BY p.query_id ORDER BY
      |        0.5*p.cos - 0.5*greatest(
      |          list_cosine_similarity(p.v, a.v),
      |          list_cosine_similarity(p.v, b.v),
      |          list_cosine_similarity(p.v, c.v)) DESC, p.id) AS pk
      |    FROM pool p JOIN s1 a USING (query_id) JOIN s2 b USING (query_id)
      |      JOIN s3 c USING (query_id)
      |    WHERE p.id NOT IN (a.id, b.id, c.id)) WHERE pk = 1
      |), s5 AS (
      |  SELECT query_id, id FROM (
      |    SELECT p.query_id, p.id,
      |      row_number() OVER (PARTITION BY p.query_id ORDER BY
      |        0.5*p.cos - 0.5*greatest(
      |          list_cosine_similarity(p.v, a.v),
      |          list_cosine_similarity(p.v, b.v),
      |          list_cosine_similarity(p.v, c.v),
      |          list_cosine_similarity(p.v, e.v)) DESC, p.id) AS pk
      |    FROM pool p JOIN s1 a USING (query_id) JOIN s2 b USING (query_id)
      |      JOIN s3 c USING (query_id) JOIN s4 e USING (query_id)
      |    WHERE p.id NOT IN (a.id, b.id, c.id, e.id)) WHERE pk = 1
      |)
      |SELECT query_id, CAST(1 AS BIGINT) AS rank, id AS neighbor_id FROM s1
      |UNION ALL SELECT query_id, 2, id FROM s2
      |UNION ALL SELECT query_id, 3, id FROM s3
      |UNION ALL SELECT query_id, 4, id FROM s4
      |UNION ALL SELECT query_id, 5, id FROM s5
      |ORDER BY query_id, rank""".stripMargin

  /** One admission stage of the streaming curation's oracle: keep-docs of
    * crawl batch doc_id % 3 == `k` hit `store`'s band keys (`hits$n`) and
    * admit iff none hits (`adm$n`). Continues a WITH list.
    */
  private def curationStage(n: String, store: String, k: Int): String =
    s""", hits$n AS (
       |  SELECT b.doc_id, count(*) AS c FROM bnd b
       |  JOIN $store s ON b.band = s.band AND b.bucket = s.bucket
       |  WHERE b.doc_id % 3 = $k GROUP BY b.doc_id
       |), adm$n AS (
       |  SELECT k.doc_id FROM keep k LEFT JOIN hits$n h USING (doc_id)
       |  WHERE k.doc_id % 3 = $k AND coalesce(h.c, 0) = 0
       |)""".stripMargin

  /** Oracle of the streaming curation's first two crawl batches over the
    * quality-kept docs' band keys: batch 0 admits whole (`adm0`, keys
    * `store1`), batch 1 is probed against them ([[curationStage]] 1), and
    * `store2` holds both admitted batches' keys. Starts a WITH list and
    * ends at store2's closing parenthesis.
    */
  private val curationCtes =
    s"""${tokCte()}${keepCtes}${bandKeyCtes("doc_id IN (SELECT doc_id FROM keep)")}, adm0 AS (
       |  SELECT doc_id FROM keep WHERE doc_id % 3 = 0
       |), store1 AS (
       |  SELECT DISTINCT band, bucket FROM bnd WHERE doc_id % 3 = 0
       |)${curationStage("1", "store1", 1)}, store2 AS (
       |  SELECT band, bucket FROM store1
       |  UNION
       |  SELECT band, bucket FROM bnd WHERE doc_id IN (SELECT doc_id FROM adm1)
       |)""".stripMargin

  /** (doc_id, source, text) docs packed by `Packing.packByBudget` into
    * 2048-token windows by source, on their whitespace token counts.
    */
  private def packed(docs: DataFrame): DataFrame =
    Packing.packByBudget(docs.select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tokens")),
      "source", "doc_id", "n_tokens", 2048L)

  /** Oracle tail of [[packed]]: the CTE `src` (doc_id, source, n_tokens)
    * closes before `w`, then each doc's bin and offset, with the literal
    * `gates` after them.
    */
  private def packingOracle(src: String, gates: String*): String =
    s"""), w AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) - n_tokens AS strt
       |  FROM $src
       |)
       |SELECT doc_id, source, n_tokens,
       |  strt // 2048 AS bin, strt % 2048 AS bin_offset${gates.map(",\n  " + _).mkString}
       |FROM w ORDER BY source, doc_id""".stripMargin

  /** A file stream of the parquet files landing in `feed`, one file per
    * trigger, so each crawl file written is one micro-batch.
    */
  private def feedStream(s: SparkSession, schema: StructType, feed: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)

  /** A running streaming curation (q164, q170): crawl files land in
    * `feed` and flow `EventStreams.curationIngestCompacting` one file per
    * trigger (quality gate 0.5, [[signatureKeys]]' MinHash parameters,
    * compaction at 2 fragments) into the signature store at `root`;
    * retained docs land under `retained`.
    */
  private final case class CurationStream(docs: DataFrame, feed: String,
      root: String, retained: String, query: StreamingQuery) {
    /** Write `batch` as one crawl file and wait for its micro-batch. */
    def crawl(batch: DataFrame): Unit = {
      batch.coalesce(1).write.mode("append").parquet(feed)
      query.processAllAvailable()
    }
  }

  /** Start a [[CurationStream]] of (doc_id, source, text) documents under
    * scratch `base`.
    */
  private def curationStream(s: SparkSession, d: String, base: String): CurationStream = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("source"), col("text"))
    val feed = base + "/feed"
    val root = base + "/sigstore"
    val retained = base + "/retained"
    new java.io.File(feed).mkdirs()
    CurationStream(docs, feed, root, retained,
      EventStreams.curationIngestCompacting(feedStream(s, docs.schema, feed),
        "doc_id", "text", root, retained, base + "/_ckpt",
        maxFragments = 2, qualityThreshold = 0.5,
        n = 3, numHashes = 32, bands = 8, portableKeys = true))
  }

  /** The three-store fleet's bootstrap: the signature store at `kroot`
    * over the docs' [[signatureKeys]], the index store at `iroot` over
    * `indexParts`, and the vector store at `vroot` over all of `emb`
    * under the small fit; disjoint roots, so the three builds overlap.
    * Returns the key set, derived once, which the takedowns slice.
    */
  private def fleetStores(s: SparkSession, docs: DataFrame, emb: DataFrame,
      iroot: String, vroot: String, kroot: String,
      indexParts: DataFrame*): DataFrame = {
    val (sigKeys, _) = Par.both(
      {
        val keys = signatureKeys(docs.select(col("doc_id"), col("text")))
        signatureStore(kroot, keys)
        keys
      },
      Par.both(indexStore(s, iroot, indexParts: _*),
        vectorStore(s, vroot, fitIvfPq(emb, kmeansIters = 2, m = 8), emb)))
    sigKeys
  }

  /** One tick of both stores of the [[cdcPair]] under `base`: the synced
    * roots are disjoint and only READ the shared CDC store, so they overlap.
    */
  private def pairTick(s: SparkSession, base: String): (Long, Long) =
    Par.both(syncIndex(s, s"$base/cdc", s"$base/idx"),
      syncVectors(s, s"$base/cdc", s"$base/vec", "doc_id"))

  /** The two-store CDC sync pair under `base`: documents joined with
    * embeddings at seq 0 in the CDC store `base/cdc`, bootstrapped into
    * the index store `base/idx` and the vector store `base/vec` by one
    * [[pairTick]]. Returns the corpus (doc_id, text, embedding) and the
    * embeddings (doc_id, embedding).
    */
  private def cdcPair(s: SparkSession, d: String, base: String): (DataFrame, DataFrame) = {
    val emb = t(s, d, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val corpus = t(s, d, "documents").select(col("doc_id"), col("text")).join(emb, "doc_id")
    EventStreams.initCdcState(corpus.withColumn("seq", lit(0L)), s"$base/cdc")
    pairTick(s, base)
    (corpus, emb)
  }

  /** Admission decisions of `ids` probed with their band `keys` against
    * the signature store at `root`: (doc_id, hit_bands, admit).
    */
  private def decisionFrame(ids: DataFrame, keys: DataFrame, root: String): DataFrame =
    Dedup.admitKeysAgainstMinHashStoreGen(ids, keys, root)
      .select(col("id").as("doc_id"), col("hit_bands"), col("admit"))

  /** Admission decisions of `ids` against the signature store at `root`,
    * collected as (id, admit).
    */
  private def admitDecisions(ids: DataFrame, keys: DataFrame,
      root: String): Seq[(Long, Boolean)] =
    Dedup.admitKeysAgainstMinHashStoreGen(ids, keys, root)
      .collect().toSeq.map(r => (r.getLong(0), r.getBoolean(2)))

  /** A decision frame (id, hit_bands, admit) collected as a triple. */
  private def decisionRows(decisions: DataFrame): Seq[(Long, Long, Boolean)] =
    decisions.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))

  /** The sketch store at `root` of distinct user_id per event_type:
    * initialised, then one batch per part with batch ids 0, 1, ….
    */
  private def sketchStore(s: SparkSession, root: String, parts: DataFrame*): Unit = {
    SketchStore.initStore(root)
    parts.zipWithIndex.foreach { case (p, b) =>
      SketchStore.admitBatch(s, p, Seq("event_type"), "user_id", b.toLong, root)
    }
  }

  /** The sketch store at `root`'s current per-event_type estimates,
    * collected and sorted: (event_type, est).
    */
  private def sketchEstimates(s: SparkSession, root: String): Seq[(String, Long)] =
    SketchStore.estimatesCurrent(s, root, Seq("event_type"))
      .select(col("event_type"), col("est"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1))).sorted

  private val retrievalOps = Seq(
    QDef("q80_vocab_index",
      // Full-VOCABULARY bucketed inverted index: every token of every
      // document, posting lists keyed (term, doc_id div 64) so each array
      // stays bounded regardless of document frequency — the scale path
      // the q76 flat index cannot offer. One shuffle on the composite key
      // (plan audited in RetrievalOpsSpec). Postings string-joined for
      // the driver's canonicalizer; array form asserted in ScalaTest.
      (s, d) => InvertedIndex.build(docPostings(s, d), IndexBucket)
        .select(col("tok"), col("bucket"), col("n_docs"),
          array_join(transform(col("postings"), _.cast("string")), ",")
            .as("postings"))
        .orderBy(col("tok"), col("bucket")),
      Some(s"""${tokCte()}
              |SELECT tok, doc_id // $IndexBucket AS bucket,
              |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
              |  array_to_string(list_transform(list_sort(list(DISTINCT doc_id)),
              |    x -> CAST(x AS VARCHAR)), ',') AS postings
              |FROM (SELECT doc_id, unnest(tk) AS tok FROM tok)
              |GROUP BY tok, bucket ORDER BY tok, bucket""".stripMargin)),

    QDef("q81_index_lookup",
      // Term lookup THROUGH the bucketed index: build + bucket-merge must
      // reproduce the flat q76 posting lists exactly (same oracle shape),
      // proving concatenation in bucket order reassembles the globally
      // sorted list. Catalyst pushes the term filter below the build's
      // group-by, so only the requested terms shuffle.
      (s, d) => postingsFrame(InvertedIndex.lookup(
        InvertedIndex.build(docPostings(s, d), IndexBucket), bm25Terms)),
      Some(postingsOracle(tokCte(), bm25Terms))),

    QDef("q82_audio_decode",
      // REAL audio decode (JDK javax.sound.sampled, no external codec),
      // oracle-checked in closed form: 64 planted square-wave WAVs from
      // the deterministic syntheticWav writer. A square wave of integer
      // amplitude A has rms EXACTLY A/32768 (every IEEE partial sum of
      // the identical squared samples is exactly representable) and
      // floor((n-1)/half_period) sign transitions, so both engines
      // compute identical doubles.
      (s, _) => {
        import s.implicits._
        val wavs = (0 until 64).map { i =>
          val n = 800 + i
          val half = 1 + i % 8
          val amp = 256 * (1 + i % 56)
          (i.toLong, Multimodal.syntheticWav(8000 + 100 * i, n)(
            idx => (if ((idx / half) % 2 == 0) amp else -amp).toShort))
        }.toDF("doc_id", "payload")
        Multimodal.extractAudioFeatures(wavs, "doc_id", "payload")
          .select(col("id").as("doc_id"),
            col("sample_rate").cast("long").as("sample_rate"),
            col("n_channels").cast("long").as("n_channels"),
            col("n_samples"), col("rms"), col("zcr"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT CAST(i AS BIGINT) AS doc_id,
             |  CAST(8000 + 100 * i AS BIGINT) AS sample_rate,
             |  CAST(1 AS BIGINT) AS n_channels,
             |  CAST(800 + i AS BIGINT) AS n_samples,
             |  CAST(256 * (1 + i % 56) AS DOUBLE) / 32768.0 AS rms,
             |  CAST((799 + i) // (1 + i % 8) AS DOUBLE) / (799 + i) AS zcr
             |FROM range(0, 64) t(i) ORDER BY doc_id""".stripMargin)),

    QDef("q83_sketch_store",
      // PERSISTED sketch state end-to-end: two disjoint event batches
      // each reduce to per-key HLL sketch bytes appended to a parquet
      // stats table; the corpus-wide estimate then comes from unioning
      // the PERSISTED sketches — no history rescan. Gates (literal-TRUE
      // pattern): the merged-from-storage estimate must track the
      // one-pass whole-corpus sketch within 1% and land within 5% of the
      // exact count. (Not bit-equality: DataSketches HLL is exact in
      // sparse/coupon mode — where sf0.01 lives — but above ~k/4
      // distincts the union gadget's estimator can drift from the
      // single-pass sketch by well under a percent, so equality is a
      // small-cardinality artifact, verified false at sf0.1's 1500
      // distinct users per key.)
      (s, d) => {
        val dir = scratchDir("q83")
        val ev = t(s, d, "events")
        SketchStore.appendBatch(ev.filter(pmod(col("event_id"), lit(2)) === 0),
          Seq("event_type"), "user_id", 0L, dir)
        SketchStore.appendBatch(ev.filter(pmod(col("event_id"), lit(2)) === 1),
          Seq("event_type"), "user_id", 1L, dir)
        val merged = SketchStore.mergedEstimates(s, dir, Seq("event_type"))
        val whole = ev.groupBy(col("event_type"))
          .agg(count_distinct(col("user_id")).cast("long").as("n_exact"),
            hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
              .as("whole_est"))
        merged.join(whole, "event_type")
          .select(col("event_type"), col("n_batches"), col("n_exact"),
            (abs(col("est") - col("whole_est")) <= col("whole_est") * 0.01)
              .as("merged_tracks_whole"),
            (abs(col("est") - col("n_exact")).cast("double") <=
              col("n_exact") * 0.05).as("within_5pct"))
          .orderBy(col("event_type"))
      },
      // n_batches is computed per key (distinct event_id parities seen
      // for the event_type), not hardcoded: a key whose events all share
      // one parity legitimately has a single sketch row.
      Some("""SELECT event_type,
             |  CAST(count(DISTINCT event_id % 2) AS BIGINT) AS n_batches,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
             |  TRUE AS merged_tracks_whole, TRUE AS within_5pct
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QDef("q84_ivf_persisted",
      // IVF index persistence end-to-end: fit centroids once, save the
      // index to parquet, LOAD it back, and search with the loaded
      // centroids. Parquet round-trips doubles exactly and the search
      // path is deterministic given centroids, so loaded-index results
      // must equal fresh-index results ROW FOR ROW — gated in-query
      // with null-safe equality over a full outer join on (query, rank)
      // (q83's literal-TRUE pattern). n_results = k is exact.
      (s, d) => {
        val dir = scratchDir("q84")
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val cents = Similarity.fitCentroids(emb, "vec_id", "embedding", 16, 3)
        Similarity.saveIndex(s, cents, dir)
        val loaded = Similarity.loadIndex(s, dir)
        def run(cs: Array[Array[Double]], out: String) =
          Similarity.ivfSearch(q, emb, "vec_id", "embedding", 5, cs,
            nprobe = 6, nassign = 3)
            .select(col("query_id"), col("rank"), col("neighbor_id").as(out))
        run(cents, "n_fresh")
          .join(run(loaded, "n_loaded"), Seq("query_id", "rank"), "full")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).cast("long").as("n_results"),
            bool_and(col("n_fresh") <=> col("n_loaded")).as("loaded_eq_fresh"))
          .orderBy(col("query_id"))
      },
      Some(gateOracle("TRUE AS loaded_eq_fresh"))),

    QDef("q85_video_decode",
      // REAL video decode: 48 planted RIFF-AVI containers (AviContainer,
      // pure-JDK writer/parser) whose frames are solid-color BMPs, frame
      // features through the ACTUAL ImageIO decode path. Closed-form
      // oracle: container metadata is exact by construction, and each
      // sampled frame's mean channel is the exact planted integer, so
      // the video mean is one exact double division (sum of small ints /
      // count) both engines compute identically. stride=2 samples every
      // other frame — the flatMap/explode shape of a production frame
      // sampler.
      (s, _) => {
        import s.implicits._
        val vids = (0 until 48).map { i =>
          val (w, h) = (8 + (i % 5) * 4, 6 + (i % 3) * 4)
          val frames = (0 until 3 + i % 6).map { f =>
            Multimodal.syntheticBmp(w, h)((_, _) =>
              ((i * 7 + f * 13) % 256, (i * 11 + f * 17) % 256, (i * 19 + f * 23) % 256))
          }
          (i.toLong, AviContainer.syntheticAvi(w, h, 33333 + i, frames))
        }.toDF("doc_id", "payload")
        Multimodal.extractVideoFeatures(vids, "doc_id", "payload", stride = 2)
          .select(col("id").as("doc_id"), col("n_frames"),
            col("us_per_frame").cast("long").as("us_per_frame"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_sampled"), col("mean_r"), col("mean_g"), col("mean_b"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH v AS (SELECT i, 3 + i % 6 AS n_frames FROM range(0, 48) t(i)),
             |f AS (SELECT i, n_frames,
             |        unnest(generate_series(0, n_frames - 1, 2)) AS f
             |      FROM v)
             |SELECT CAST(i AS BIGINT) AS doc_id,
             |  CAST(any_value(n_frames) AS BIGINT) AS n_frames,
             |  CAST(33333 + i AS BIGINT) AS us_per_frame,
             |  CAST(8 + (i % 5) * 4 AS BIGINT) AS width,
             |  CAST(6 + (i % 3) * 4 AS BIGINT) AS height,
             |  CAST(count(*) AS BIGINT) AS n_sampled,
             |  CAST(sum((i * 7 + f * 13) % 256) AS DOUBLE) / count(*) AS mean_r,
             |  CAST(sum((i * 11 + f * 17) % 256) AS DOUBLE) / count(*) AS mean_g,
             |  CAST(sum((i * 19 + f * 23) % 256) AS DOUBLE) / count(*) AS mean_b
             |FROM f GROUP BY i ORDER BY doc_id""".stripMargin)),

    QDef("q86_image_resize",
      // REAL image resize: planted solid-color BMPs resampled into a
      // 64x64 box (nearest-neighbor, deterministic BMP re-encode), then
      // decoded BACK through the real ImageIO path — the output
      // dimensions follow the same IEEE floor arithmetic in both
      // engines (floor(w0 * least(1.0, 64/w0, 64/h0))), and a solid
      // color must survive resample + re-encode + decode exactly.
      (s, _) => {
        import s.implicits._
        val imgs = (0 until 48).map { i =>
          val (w0, h0) = (16 + (i % 10) * 9, 12 + (i % 7) * 13)
          (i.toLong, Multimodal.syntheticBmp(w0, h0)((_, _) =>
            ((i * 5) % 256, (i * 9) % 256, (i * 3 + 7) % 256)))
        }.toDF("doc_id", "payload")
        val resized = Multimodal.resize(imgs, "doc_id", "payload", 64, 64)
        Multimodal.extractFeatures(resized, "id", "payload")
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            element_at(col("feature"), 1).cast("double").as("mean_r"),
            element_at(col("feature"), 2).cast("double").as("mean_g"),
            element_at(col("feature"), 3).cast("double").as("mean_b"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH v AS (SELECT i, 16 + (i % 10) * 9 AS w0, 12 + (i % 7) * 13 AS h0
             |           FROM range(0, 48) t(i)),
             |s AS (SELECT *, least(1.0, 64.0 / w0, 64.0 / h0) AS sc FROM v)
             |SELECT CAST(i AS BIGINT) AS doc_id,
             |  GREATEST(1, CAST(FLOOR(w0 * sc) AS BIGINT)) AS width,
             |  GREATEST(1, CAST(FLOOR(h0 * sc) AS BIGINT)) AS height,
             |  CAST((i * 5) % 256 AS DOUBLE) AS mean_r,
             |  CAST((i * 9) % 256 AS DOUBLE) AS mean_g,
             |  CAST((i * 3 + 7) % 256 AS DOUBLE) AS mean_b
             |FROM s ORDER BY doc_id""".stripMargin)),

    QDef("q87_write_control",
      // O3 writer-side layout control (reference: per-column EncodingType
      // include/format.h:52, encoding switch src/format.cpp:271-284,
      // row-group flush src/format.cpp:380-420): write lineitem with
      // explicit 64KB row groups, writer v2, and dictionary disabled for
      // two columns, then VERIFY FROM THE FOOTERS that the requested
      // layout landed — DELTA_BINARY_PACKED on the sorted int64 key,
      // DELTA_BYTE_ARRAY (no dict page) on the dict-off string, a
      // dictionary page on the low-cardinality flag, and >=2 row groups.
      // coalesce(1) makes row-group accounting single-file-deterministic
      // for the gate; a production write would keep its partitioning.
      // Round-trip totals are the oracle-checked values (integral-valued
      // l_quantity -> exact order-independent double sum).
      (s, d) => {
        val dir = scratchDir("q87")
        val li = t(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity",
            "l_returnflag", "l_linestatus")
        ParquetWrite.write(li.coalesce(1), s"$dir/t",
          ParquetWrite.WriteSpec(
            rowGroupBytes = 64 << 10, pageBytes = 16 << 10,
            writerVersion = "v2",
            dictionaryOverrides =
              Map("l_orderkey" -> false, "l_linestatus" -> false),
            sortWithinPartitions = Seq("l_orderkey")))
        val layout = ParquetWrite.describe(s"$dir/t")
        def chunks(c: String) = layout.filter(_.column == c)
        val multiGroups = layout.map(x => (x.file, x.rowGroup)).distinct.size >= 2
        val deltaKey = chunks("l_orderkey").nonEmpty && chunks("l_orderkey")
          .forall(c => !c.hasDict && c.encodings.contains("DELTA_BINARY_PACKED"))
        val statusNoDict = chunks("l_linestatus").nonEmpty && chunks("l_linestatus")
          .forall(c => !c.hasDict && c.encodings.contains("DELTA_BYTE_ARRAY"))
        val flagDict = chunks("l_returnflag").nonEmpty &&
          chunks("l_returnflag").forall(_.hasDict)
        Tables.parquet(s, s"$dir/t")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("l_quantity")).as("sum_qty"))
          .select(col("n_rows"), col("sum_qty"),
            lit(multiGroups).as("multi_row_groups"),
            lit(deltaKey).as("delta_int_key"),
            lit(statusNoDict).as("status_no_dict"),
            lit(flagDict).as("flag_dict"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  sum(l_quantity) AS sum_qty,
             |  TRUE AS multi_row_groups, TRUE AS delta_int_key,
             |  TRUE AS status_no_dict, TRUE AS flag_dict
             |FROM lineitem""".stripMargin)),

    QDef("q88_zorder_skipping",
      // Z-order layout -> PROVEN row-group skipping: lineitem is written
      // clustered on the Morton interleave of (l_partkey, l_suppkey)
      // with small row groups, then the footers' per-row-group min/max —
      // the exact stats a pruned scan consults — are checked against a
      // 2-D range box (quarter of each dimension's span, computed with
      // the same left-to-right double arithmetic in both engines): a
      // majority of row groups must be skippable for the box. A
      // single-column sort can only tighten ONE dimension; the interleave
      // tightens both, which is the whole point of the layout at 100 TB.
      // The box aggregate itself is oracle-checked against DuckDB.
      (s, d) => {
        val dir = scratchDir("q88")
        val li = t(s, d, "lineitem")
          .select("l_partkey", "l_suppkey", "l_quantity")
        ParquetWrite.write(
          li.withColumn("__z", Layout.zorderValue(li, Seq("l_partkey", "l_suppkey")))
            .repartitionByRange(4, col("__z"))
            .sortWithinPartitions(col("__z")).drop("__z"),
          s"$dir/t",
          ParquetWrite.WriteSpec(rowGroupBytes = 32 << 10, pageBytes = 8 << 10))
        val r = li.agg(
          min(col("l_partkey")).cast("double"), max(col("l_partkey")).cast("double"),
          min(col("l_suppkey")).cast("double"), max(col("l_suppkey")).cast("double")).head()
        val (pmn, pmx, smn, smx) =
          (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
        // integral box bounds: a long-vs-long comparison reaches
        // PushedFilters (a double literal would cast the column and
        // block pushdown — the skipping would then never happen)
        val (plo, phi) = (math.ceil(pmn + 0.25 * (pmx - pmn)).toLong,
          math.floor(pmn + 0.5 * (pmx - pmn)).toLong)
        val (slo, shi) = (math.ceil(smn + 0.25 * (smx - smn)).toLong,
          math.floor(smn + 0.5 * (smx - smn)).toLong)
        val stats = ParquetWrite.rowGroupStats(s"$dir/t", Set("l_partkey", "l_suppkey"))
          .groupBy(cs => (cs.file, cs.rowGroup))
        val overlapping = stats.count { case (_, cols) =>
          val p = cols.find(_.column == "l_partkey").get
          val sp = cols.find(_.column == "l_suppkey").get
          p.min <= phi && p.max >= plo && sp.min <= shi && sp.max >= slo
        }
        val prunedFrac = 1.0 - overlapping.toDouble / stats.size
        Tables.parquet(s, s"$dir/t")
          .filter(col("l_partkey") >= plo && col("l_partkey") <= phi &&
            col("l_suppkey") >= slo && col("l_suppkey") <= shi)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("l_quantity")).as("sum_qty"))
          .select(col("n_rows"), col("sum_qty"),
            lit(stats.size >= 8).as("many_row_groups"),
            lit(prunedFrac >= 0.5).as("zorder_prunes_majority"))
      },
      Some("""WITH r AS (SELECT CAST(min(l_partkey) AS DOUBLE) AS pmn,
             |                  CAST(max(l_partkey) AS DOUBLE) AS pmx,
             |                  CAST(min(l_suppkey) AS DOUBLE) AS smn,
             |                  CAST(max(l_suppkey) AS DOUBLE) AS smx FROM lineitem),
             |b AS (SELECT CAST(ceil(pmn + 0.25 * (pmx - pmn)) AS BIGINT) AS plo,
             |             CAST(floor(pmn + 0.5 * (pmx - pmn)) AS BIGINT) AS phi,
             |             CAST(ceil(smn + 0.25 * (smx - smn)) AS BIGINT) AS slo,
             |             CAST(floor(smn + 0.5 * (smx - smn)) AS BIGINT) AS shi FROM r)
             |SELECT CAST(count(*) AS BIGINT) AS n_rows, sum(l_quantity) AS sum_qty,
             |  TRUE AS many_row_groups, TRUE AS zorder_prunes_majority
             |FROM lineitem, b
             |WHERE l_partkey >= plo AND l_partkey <= phi
             |  AND l_suppkey >= slo AND l_suppkey <= shi""".stripMargin)),

    QDef("q89_partition_pruning",
      // Hive-style partitioned layout -> directory-level pruning: events
      // written partitioned by event_type, then a two-type filtered scan
      // must show non-trivial PartitionFilters in its physical plan —
      // i.e. the filter prunes whole partition DIRECTORIES at listing
      // time, before a single footer is opened. That is the coarsest and
      // cheapest skipping tier at 100 TB (partition -> row group -> page).
      // Per-type aggregates over the partitioned copy are oracle-checked.
      (s, d) => {
        val dir = scratchDir("q89")
        ParquetWrite.write(t(s, d, "events"), s"$dir/t",
          ParquetWrite.WriteSpec(partitionBy = Seq("event_type")))
        val filtered = Tables.parquet(s, s"$dir/t")
          .filter(col("event_type").isin("click", "view"))
        val plan = filtered.queryExecution.executedPlan.toString
        val pruned = raw"PartitionFilters: \[[^\]]*event_type".r
          .findFirstIn(plan).isDefined
        filtered.groupBy(col("event_type"))
          .agg(count(lit(1)).cast("long").as("n_events"),
            count_distinct(col("user_id")).cast("long").as("n_users"))
          .select(col("event_type"), col("n_events"), col("n_users"),
            lit(pruned).as("partition_pruned"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |  TRUE AS partition_pruned
             |FROM events WHERE event_type IN ('click', 'view')
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QDef("q90_cdc_incremental",
      // Incremental CDC with the stale-change guard (Merge.cdcApply, the
      // batch core of the streaming cdcIngest sink): snapshot = first
      // event per user; the feed mixes (a) fresh upserts (each user's
      // second event), (b) a FULL REPLAY of the initial snapshot (seq ==
      // snapshot seq -> guard must drop every row; an unguarded apply
      // would let the replay beat fresh rows for users without a second
      // event... and at-least-once delivery makes replays normal, not
      // exceptional), and (c) deletes for user_id % 5 == 0 re-sequenced
      // above everything. Final state is closed-form: per surviving user
      // the rk-2 row if one exists, else the rk-1 row.
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_type"), col("event_id"))
          .withColumn("rk", row_number().over(w))
        val base = ev.filter(col("rk") === 1).drop("rk")
        val fresh = ev.filter(col("rk") === 2).drop("rk").withColumn("op", lit("U"))
        val replay = base.withColumn("op", lit("U"))
        val deletes = base.filter(pmod(col("user_id"), lit(5)) === 0)
          .withColumn("event_id", col("event_id") + (1L << 40))
          .withColumn("op", lit("D"))
        Merge.cdcApply(base,
          fresh.unionByName(replay).unionByName(deletes),
          Seq("user_id"), "event_id", "op")
          .orderBy(col("user_id"))
      },
      Some("""WITH r AS (SELECT user_id, event_type, event_id,
             |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rk
             |  FROM events),
             |m AS (SELECT user_id, least(2, max(rk)) AS pick FROM r
             |      WHERE user_id % 5 <> 0 GROUP BY user_id)
             |SELECT r.user_id, r.event_type, r.event_id
             |FROM r JOIN m ON r.user_id = m.user_id AND r.rk = m.pick
             |ORDER BY r.user_id""".stripMargin)),

    QDef("q91_weighted_sample",
      // Efraimidis-Spirakis weighted sampling without replacement, weight
      // = token count: u^(1/w) scores from the portable md5 uniform, top
      // 20 win. Plans as TakeOrderedAndProject (k rows per partition, no
      // global sort); the oracle recomputes the identical score. The
      // score column itself is intentionally NOT output (pow's last ulp
      // is libm-specific; the SELECTION is stable because score gaps at
      // this n are ~1e-3, astronomically wider than 1-ulp drift).
      (s, d) => {
        val w = TextFunctions.tokenCount(col("text"))
        Splits.weightedSample(
          t(s, d, "documents").select(col("doc_id"), w.as("w")),
          "doc_id", "w", k = 20, salt = "ws")
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS w
             |  FROM documents
             |), s AS (
             |  SELECT doc_id, w,
             |    pow(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ws'), 1, 8)) AS UBIGINT)
             |          / 4294967296.0,
             |        1.0 / CAST(w AS DOUBLE)) AS score
             |  FROM w WHERE CAST(w AS DOUBLE) > 0
             |)
             |SELECT doc_id, w FROM s
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    QDef("q92_heavy_hitters",
      // Misra-Gries heavy hitters with m=8 counters over a planted
      // skewed key stream (2 hot keys ~1/6 of the stream each + one
      // singleton key per remaining doc — the hot-key shape the uniform
      // testdata lacks). The MG guarantees ARE the oracle gates: every
      // key with true count > N/(m+1) must be present in the summary
      // (`found`), with `est <= exact` and `exact - est <= N/(m+1)`
      // (`bounds_ok`) — all computed in exact integer arithmetic and
      // asserted as literal TRUE by DuckDB, which also recomputes the
      // guaranteed-heavy key set and exact counts. A broken sketch
      // (wrong eviction, bad merge) breaks `found` or `bounds_ok`.
      (s, d) => {
        val keyed = t(s, d, "documents").select(
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("heavy_"), pmod(col("doc_id"), lit(2)).cast("string")))
            .otherwise(concat(lit("tail_"), col("doc_id").cast("string")))
            .as("k"))
        val mg = HeavyHitters.summarize(keyed, "k", m = 8)
        val exact = keyed.groupBy(col("k"))
          .agg(count(lit(1)).cast("long").as("exact_cnt"))
        val n = keyed.agg(count(lit(1)).cast("long").as("n"))
        exact.crossJoin(n) // n is one row: broadcast-literal join
          .filter(col("exact_cnt") * 9 > col("n")) // exact > N/(m+1), m=8
          .join(mg, col("k") === col("key"), "left")
          .select(col("k"), col("exact_cnt"),
            col("est").isNotNull.as("found"),
            (col("est") <= col("exact_cnt") &&
              (col("exact_cnt") - col("est")) * 9 <= col("n")).as("bounds_ok"))
          .orderBy(col("k"))
      },
      Some("""WITH keyed AS (
             |  SELECT CASE WHEN doc_id % 3 = 0
             |              THEN 'heavy_' || CAST(doc_id % 2 AS VARCHAR)
             |              ELSE 'tail_' || CAST(doc_id AS VARCHAR) END AS k
             |  FROM documents
             |), exact AS (
             |  SELECT k, CAST(count(*) AS BIGINT) AS exact_cnt FROM keyed GROUP BY k
             |), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keyed)
             |SELECT k, exact_cnt, TRUE AS found, TRUE AS bounds_ok
             |FROM exact, n WHERE exact_cnt * 9 > n
             |ORDER BY k""".stripMargin)),

    QDef("q93_stratum_sample",
      // Exactly-5-per-language sample via bottom-k of the portable md5
      // uniform — the fixed-size-per-stratum selection q54's fractional
      // keep can't promise. Per-row oracle: DuckDB recomputes the same
      // rank and picks the same 5 doc_ids per lang.
      (s, d) => Splits.stratumSample(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", k = 5)
        .orderBy(col("doc_id")),
      Some(s"""$uCte
             |SELECT doc_id, lang FROM (
             |  SELECT doc_id, lang,
             |    row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rk
             |  FROM u)
             |WHERE rk <= 5 ORDER BY doc_id""".stripMargin)),

    QDef("q94_tpch_q5",
      // TPC-H Q5 shape on the testdata schema: local-supplier revenue per
      // nation in one region and a 1-year window. The 100 TB plan this
      // declares: region/nation/supplier/customer all broadcast (none
      // bigger than a few MB at any SF — nations and regions are
      // cardinality-FIXED dimensions), so the ONLY shuffle is
      // lineitem⋈orders on the orderkey, with the region+date filters
      // pushed below it. The c_nationkey = s_nationkey equality ("local
      // supplier") lands as a join condition on broadcast sides, never a
      // post-join filter over the fact stream.
      (s, d) => {
        val l = t(s, d, "lineitem")
        val o = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, d, "customer")),
            col("o_custkey") === col("c_custkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")
            .filter(col("r_name") === "ASIA")), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    QDef("q95_tpch_q4",
      // TPC-H Q4 shape: correlated EXISTS decorrelated to a left-semi
      // join — the fact side shuffles once on the correlation key and
      // lineitem is never materialized into the output. Priority counts
      // over a 1-year window.
      (s, d) => {
        val o = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val l = t(s, d, "lineitem")
        o.join(l, col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    QDef("q106_tpch_q3",
      // TPC-H Q3 shape (shipping priority): 3-way customer⋈orders⋈
      // lineitem with a top-k over the join. The 100 TB plan: customer
      // is the one broadcast-able side (segment-filtered dimension);
      // orders⋈lineitem shuffles once on the orderkey with both date
      // filters pushed to the scans; the top 10 runs as
      // TakeOrderedAndProject (per-partition heaps + driver merge of
      // 10-row partials), never a global sort. (The testdata schema
      // carries no o_shippriority; the join/top-k shape is what this
      // query pins.)
      (s, d) => {
        val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, d, "orders")
          .filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
        val l = t(s, d, "lineitem")
          .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
          .select(col("l_orderkey"), col("revenue"),
            // NTZ parquet column: cast through TIMESTAMP under the
            // session's fixed UTC zone = same instant DuckDB's epoch_ms sees
            unix_millis(col("o_orderdate").cast("timestamp")).as("orderdate_ms"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey,
             |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             |  epoch_ms(o_orderdate) AS orderdate_ms
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-06-01'
             |  AND l_shipdate > TIMESTAMP '1998-06-01'
             |GROUP BY l_orderkey, o_orderdate
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    QDef("q107_tpch_q10",
      // TPC-H Q10 shape (returned-item reporting): group-by over a
      // 4-way join, top 20 customers by lost revenue. The 100 TB plan:
      // nation broadcasts (fixed cardinality); customer⋈orders⋈lineitem
      // shuffle on their keys with the returnflag filter pushed to the
      // lineitem scan (cuts the fact stream ~3x before any join) and
      // the date window pushed to orders; the aggregation keys on
      // c_custkey (carrying the functionally-dependent name/acctbal/
      // nation along in the grouping is free — one shuffle); top 20 via
      // TakeOrderedAndProject with the unique custkey tie-break.
      (s, d) => {
        val o = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        val l = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
             |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1996-04-01'
             |GROUP BY c_custkey, c_name, c_acctbal, n_name
             |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    QDef("q108_media_router",
      // The umbrella media entry point routing every payload to its REAL
      // decoder by container magic: solid BMPs -> ImageIO pixel decode
      // (q60 path), square-wave WAVs -> javax.sound PCM decode (q82
      // path: rms = A/32768 EXACTLY, zcr = 1 for the alternating wave),
      // solid-frame AVIs -> container parse + per-frame ImageIO decode
      // (q85 path), and opaque text bytes -> the disclosed stub,
      // identified per-row by `kind`. Every real feature is a closed
      // form the oracle restates; stub pseudo-features are nulled here
      // (their byte-fold determinism is q33's oracle) so this query pins
      // ROUTING + real decode, not the stub arithmetic twice.
      (s, _) => {
        import s.implicits._
        val images = (0 until 16).map { i =>
          (i.toLong, Multimodal.syntheticBmp(2 + i % 4, 3 + i % 3)((_, _) =>
            ((i * 4) % 256, 255 - i * 4, i)))
        }
        val audio = (0 until 16).map { i =>
          val amp = (1000 + i * 500).toShort
          (100L + i, Multimodal.syntheticWav(8000 + i * 100, 256)(j =>
            if (j % 2 == 0) amp else (-amp).toShort))
        }
        val video = (0 until 12).map { i =>
          val (w, h) = (4 + (i % 3) * 2, 4 + (i % 2) * 2)
          val frames = (0 until 2 + i % 3).map(_ =>
            Multimodal.syntheticBmp(w, h)((_, _) =>
              ((i * 7) % 256, (i * 11) % 256, (i * 13) % 256)))
          (200L + i, AviContainer.syntheticAvi(w, h, 40000 + i, frames))
        }
        val opaque = (0 until 12).map(i =>
          (300L + i, s"opaque payload $i with no container magic".getBytes("UTF-8")))
        val df = (images ++ audio ++ video ++ opaque).toDF("doc_id", "payload")
        Multimodal.extractFeatures(df, "doc_id", "payload")
          .select(col("id").as("doc_id"), col("kind"),
            when(col("kind") =!= "stub", col("width").cast("long")).as("width"),
            when(col("kind") =!= "stub", col("height").cast("long")).as("height"),
            when(col("kind") =!= "stub", col("n_frames").cast("long")).as("n_frames"),
            when(col("kind") =!= "stub",
              element_at(col("feature"), 1).cast("double")).as("f1"),
            when(col("kind") =!= "stub",
              element_at(col("feature"), 2).cast("double")).as("f2"),
            when(col("kind").isin("image", "video"),
              element_at(col("feature"), 3).cast("double")).as("f3"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH img AS (
             |  SELECT CAST(i AS BIGINT) AS doc_id, 'image' AS kind,
             |    CAST(2 + i % 4 AS BIGINT) AS width,
             |    CAST(3 + i % 3 AS BIGINT) AS height,
             |    CAST(1 AS BIGINT) AS n_frames,
             |    CAST((i * 4) % 256 AS DOUBLE) AS f1,
             |    CAST(255 - i * 4 AS DOUBLE) AS f2,
             |    CAST(i AS DOUBLE) AS f3
             |  FROM range(0, 16) t(i)
             |), aud AS (
             |  SELECT CAST(100 + i AS BIGINT), 'audio',
             |    CAST(8000 + i * 100 AS BIGINT), CAST(1 AS BIGINT),
             |    CAST(256 AS BIGINT),
             |    CAST(1000 + i * 500 AS DOUBLE) / 32768, CAST(1.0 AS DOUBLE),
             |    CAST(NULL AS DOUBLE)
             |  FROM range(0, 16) t(i)
             |), vid AS (
             |  SELECT CAST(200 + i AS BIGINT), 'video',
             |    CAST(4 + (i % 3) * 2 AS BIGINT), CAST(4 + (i % 2) * 2 AS BIGINT),
             |    CAST(2 + i % 3 AS BIGINT),
             |    CAST((i * 7) % 256 AS DOUBLE), CAST((i * 11) % 256 AS DOUBLE),
             |    CAST((i * 13) % 256 AS DOUBLE)
             |  FROM range(0, 12) t(i)
             |), stb AS (
             |  SELECT CAST(300 + i AS BIGINT), 'stub',
             |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |    CAST(NULL AS BIGINT),
             |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
             |  FROM range(0, 12) t(i)
             |)
             |SELECT * FROM (SELECT * FROM img UNION ALL SELECT * FROM aud
             |  UNION ALL SELECT * FROM vid UNION ALL SELECT * FROM stb)
             |ORDER BY doc_id""".stripMargin))
  )

  /** Round 5: corpus-level structure — span dedup, tokenizer training. */
  private val corpusOps = Seq(
    QDef("q96_duplicate_spans",
      // Span-level (ExactSubstr-style) duplicate detection: maximal runs
      // of >= 8 consecutive tokens appearing verbatim in >= 2 distinct
      // documents. Postings (one row per token position) -> one
      // hash-partitioned gram aggregation -> per-doc islands merge.
      // Oracle recomputes the identical pipeline: same tokenization,
      // same positional grams, same gaps-and-islands window arithmetic.
      // portableKeys: gram keys are md5 halves (the q38 hash basis) so
      // DuckDB recomputes them exactly; the engine default is the
      // string-free XXH64 slice-hash family (same two-family convention
      // as SimHash q25/q38).
      (s, d) => Dedup.duplicateSpans(
        t(s, d, "documents"), "doc_id", "text", minTokens = 8,
        portableKeys = true),
      Some(s"""${tokCte()}, g AS (
             |  SELECT doc_id,
             |    unnest(range(1, len(tk) - 6)) AS pos,
             |    unnest(list_transform(range(1, len(tk) - 6),
             |      i -> substring(md5(array_to_string(tk[i:i+7], ' ')), 1, 16))) AS gram
             |  FROM tok WHERE len(tk) >= 8
             |), dup AS (
             |  SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)
             |), p AS (
             |  SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)
             |), isl AS (
             |  SELECT doc_id, pos,
             |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             |  FROM p
             |), spans AS (
             |  SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             |    CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_tokens
             |  FROM isl GROUP BY doc_id, grp
             |)
             |SELECT s.doc_id, span_start, span_tokens,
             |  array_to_string(tk[span_start:span_start+span_tokens-1], ' ') AS span_text
             |FROM spans s JOIN tok USING (doc_id)
             |ORDER BY doc_id, span_start""".stripMargin)),

    QDef("q97_bpe_merges",
      // Distributed BPE merge learning (tokenizer training): 6 rounds of
      // corpus-wide adjacent-pair counting over the word-frequency
      // vocabulary, greedy left-to-right merge application between
      // rounds, ties broken (count desc, left, right). The oracle
      // re-learns the same 6 merges in DuckDB with the loop UNROLLED
      // into one CTE chain per round (the q70 PageRank pattern); merge
      // application there is fixpoint-repeated non-overlapping string
      // replace on ' l r '-delimited symbol strings, which equals the
      // greedy fold (BpeSpec proves the equivalence property-style).
      (s, d) => Bpe.learnMerges(t(s, d, "documents"), "text", numMerges = 6)
        .orderBy(col("rank")),
      Some(bpeOracleSql(6))),

    QDef("q98_funnel",
      // Ordered time-windowed funnel (view -> click within 1h -> purchase
      // within 24h): per-stage min-timestamp chaining, each stage ONE
      // same-key aggregation + one join back to the event stream — the
      // keyed shuffles all share user_id, so stages co-partition after
      // the first exchange. All comparisons in integer MICROSECONDS:
      // Spark's parquet load truncates the nanos testdata to micros, so
      // unix_micros(ts) == DuckDB's epoch_us(ts) exactly, where raw
      // timestamp comparisons could disagree on sub-micro ties.
      (s, d) => {
        val ue = t(s, d, "events").select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val s1 = ue.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
        val s2 = ue.join(s1, "user_id")
          .filter(col("event_type") === "click" && col("us") > col("t1") &&
            col("us") <= col("t1") + lit(3600000000L))
          .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
        val s3 = ue.join(s2, "user_id")
          .filter(col("event_type") === "purchase" && col("us") > col("t2") &&
            col("us") <= col("t2") + lit(86400000000L))
          .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
        s1.agg(count(lit(1)).cast("long").as("n_view"))
          .crossJoin(s2.agg(count(lit(1)).cast("long").as("n_view_click")))
          .crossJoin(s3.agg(count(lit(1)).cast("long")
            .as("n_view_click_purchase")))
      },
      Some("""WITH ue AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
             |), s1 AS (
             |  SELECT user_id, min(us) AS t1 FROM ue
             |  WHERE event_type = 'view' GROUP BY user_id
             |), s2 AS (
             |  SELECT ue.user_id, min(us) AS t2 FROM ue JOIN s1 USING (user_id)
             |  WHERE event_type = 'click' AND us > t1 AND us <= t1 + 3600000000
             |  GROUP BY ue.user_id
             |), s3 AS (
             |  SELECT ue.user_id, min(us) AS t3 FROM ue JOIN s2 USING (user_id)
             |  WHERE event_type = 'purchase' AND us > t2 AND us <= t2 + 86400000000
             |  GROUP BY ue.user_id
             |)
             |SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_view,
             |       CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_view_click,
             |       CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_view_click_purchase""".stripMargin)),

    QDef("q99_gap_fill",
      // Time-series gap fill: each user's hourly grid from first to last
      // active hour, forward-filled from the last observed value. The
      // per-(user, hour) "last" is max_by over a zero-padded
      // (micros, event_id) string key — totally ordered even if two
      // events shared a microsecond, so no engine-ordering premise.
      // Scale: grid fan-out is bounded by each user's own active span;
      // the fill window partitions BY USER (bounded state, parallel
      // across users — never a global sort).
      (s, d) => {
        val ev = t(s, d, "events").select(col("user_id"),
          floor(unix_millis(col("ts")) / lit(3600000)).cast("long").as("h"),
          concat(lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
            lpad(col("event_id").cast("string"), 20, "0")).as("ord"),
          col("value"))
        val hourly = ev.groupBy(col("user_id"), col("h"))
          .agg(max_by(col("value"), col("ord")).as("v"))
        val grid = hourly.groupBy(col("user_id"))
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("user_id"),
            explode(sequence(col("h0"), col("h1"))).as("h"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly, Seq("user_id", "h"), "left")
          .select(col("user_id"), (col("h") * 3600000).as("hour_ms"),
            last(col("v"), ignoreNulls = true).over(w).as("filled_value"))
          .orderBy(col("user_id"), col("hour_ms"))
      },
      Some("""WITH hourly AS (
             |  SELECT user_id, epoch_ms(ts) // 3600000 AS h,
             |    arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
             |                   lpad(CAST(event_id AS VARCHAR), 20, '0')) AS v
             |  FROM events GROUP BY user_id, epoch_ms(ts) // 3600000
             |), bounds AS (
             |  SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY user_id
             |), grid AS (
             |  SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM bounds
             |)
             |SELECT user_id, CAST(h * 3600000 AS BIGINT) AS hour_ms,
             |  last_value(v IGNORE NULLS) OVER (
             |    PARTITION BY user_id ORDER BY h
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
             |FROM grid LEFT JOIN hourly USING (user_id, h)
             |ORDER BY user_id, hour_ms""".stripMargin)),

    QDef("q100_cohort_retention",
      // Cohort retention: users grouped by first-seen week, distinct
      // active users per (cohort, weeks-since-first-seen). Two keyed
      // aggregations + one user_id join; weeks are integer epoch-day
      // arithmetic (floor division both engines define identically on
      // positive epochs), never engine-specific week-truncation.
      (s, d) => {
        val ev = t(s, d, "events").select(col("user_id"),
          floor(floor(unix_millis(col("ts")) / lit(86400000)) / lit(7))
            .cast("long").as("wk"))
        val fs = ev.groupBy(col("user_id")).agg(min(col("wk")).as("w0"))
        ev.join(fs, "user_id")
          .groupBy(col("w0").as("cohort_week"),
            (col("wk") - col("w0")).as("week_offset"))
          .agg(count_distinct(col("user_id")).as("n_active"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_ms(ts) // 86400000 // 7 AS wk FROM events
             |), fs AS (
             |  SELECT user_id, min(wk) AS w0 FROM ev GROUP BY user_id
             |)
             |SELECT CAST(w0 AS BIGINT) AS cohort_week,
             |       CAST(wk - w0 AS BIGINT) AS week_offset,
             |       CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_active
             |FROM ev JOIN fs USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QDef("q101_bpe_encode",
      // The encoder half of the q97 tokenizer: learn 6 merges, then
      // BPE-encode the corpus with them and count encoded tokens per
      // language. Encoding folds the merge list into nested transforms
      // at plan build time — one narrow codegen'd pass, no merge-table
      // join. Oracle re-learns the same merges (the q97 chain), applies
      // them to its vocabulary CTE, and joins word instances to it.
      (s, d) => {
        val docs = t(s, d, "documents")
        val merges = Bpe.learnMerges(docs, "text", numMerges = 6)
          .orderBy(col("rank")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        docs.groupBy(col("lang"))
          .agg(sum(Bpe.encodedLength(col("text"), merges)).as("n_bpe_tokens"),
            sum(TextFunctions.tokenCount(col("text"))).as("n_words"))
          .orderBy(col("lang"))
      },
      Some(bpeEncodeOracleSql(6))),

    QDef("q102_pq_topk",
      // Product-quantization ANN with an ORACLE-GATED recall bound (the
      // q35 pattern): PQ codes score against per-query LUTs (m lookups
      // + adds per corpus vector, original vectors untouched), a 16k
      // shortlist re-ranks with EXACT cosine, and overall recall vs the
      // in-query brute-force reference must come out TRUE at >= 0.8.
      // m=16 (4-dim subspaces, 16 codewords = 64 bits/vector) because
      // the synthetic embeddings are near-uniform — worst-case
      // quantizable, the same widening note as q35; measured recall at
      // these settings is 0.98. Emitted cosines are exact (re-rank), so
      // they'd hash-compare if the oracle recomputed them.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val pq = Similarity.pqTopK(q, emb, "vec_id", "embedding", 5,
          m = 16, shortlistFactor = 16).select("query_id", "neighbor_id")
        val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
          .select("query_id", "neighbor_id")
        val w = Window.partitionBy() // 10 rows by this point: tiny
        pq.join(bf.withColumn("hit", lit(1L)),
            Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_results"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("query_id"), col("n_results"),
            (sum(col("n_hits")).over(w).cast("double")
              / sum(col("n_results")).over(w) >= 0.8).as("recall_ge_080"))
          .orderBy(col("query_id"))
      },
      Some(gateOracle("TRUE AS recall_ge_080"))),

    QDef("q103_pq_persisted",
      // PQ codebook persistence end-to-end (q84's gate for the PQ
      // index): fit codebooks once, save to parquet, LOAD back, search
      // with both. Parquet round-trips doubles exactly and encode +
      // LUT scoring + re-rank are deterministic given codebooks, so
      // loaded results must equal fresh results ROW FOR ROW (null-safe
      // equality over a full outer join on (query, rank)).
      (s, d) => {
        val dir = scratchDir("q103")
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val books = Similarity.fitPqCodebooks(emb, "vec_id", "embedding",
          m = 16, k = 16, iters = 2)
        Similarity.savePqIndex(s, books, dir)
        val loaded = Similarity.loadPqIndex(s, dir)
        def run(bs: Array[Array[Array[Double]]], out: String) =
          Similarity.pqSearch(q, emb, "vec_id", "embedding", 5, bs,
            shortlistFactor = 16)
            .select(col("query_id"), col("rank"), col("neighbor_id").as(out))
        run(books, "n_fresh")
          .join(run(loaded, "n_loaded"), Seq("query_id", "rank"), "full")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).cast("long").as("n_results"),
            bool_and(col("n_fresh") <=> col("n_loaded")).as("loaded_eq_fresh"))
          .orderBy(col("query_id"))
      },
      Some(gateOracle("TRUE AS loaded_eq_fresh"))),

    QDef("q104_span_admission",
      // Incremental span dedup (the crawl-admission shape): even-id docs
      // are the admitted history, persisted as a DISTINCT-gram store;
      // the odd-id batch is checked against the store with ONE semi-join
      // — history is never rescanned. The oracle recomputes the same
      // semantics directly: batch-2 positions whose gram exists among
      // batch-1 grams, merged by the q96 islands arithmetic.
      (s, d) => {
        val dir = scratchDir("q104")
        val docs = t(s, d, "documents")
        Dedup.appendGramStore(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", minTokens = 8, batchId = 0L, path = dir,
          portableKeys = true)
        Dedup.spansAgainstStore(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", minTokens = 8, path = dir, portableKeys = true)
      },
      Some(s"""${tokCte()}, g AS (
             |  SELECT doc_id,
             |    unnest(range(1, len(tk) - 6)) AS pos,
             |    unnest(list_transform(range(1, len(tk) - 6),
             |      i -> substring(md5(array_to_string(tk[i:i+7], ' ')), 1, 16))) AS gram
             |  FROM tok WHERE len(tk) >= 8
             |), store AS (
             |  SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0
             |), p AS (
             |  SELECT doc_id, pos FROM g
             |  WHERE doc_id % 2 = 1 AND gram IN (SELECT gram FROM store)
             |), isl AS (
             |  SELECT doc_id, pos,
             |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             |  FROM p
             |), spans AS (
             |  SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             |    CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_tokens
             |  FROM isl GROUP BY doc_id, grp
             |)
             |SELECT s.doc_id, span_start, span_tokens,
             |  array_to_string(tk[span_start:span_start+span_tokens-1], ' ') AS span_text
             |FROM spans s JOIN tok USING (doc_id)
             |ORDER BY doc_id, span_start""".stripMargin)),

    QDef("q105_minhash_admission",
      // Incremental WHOLE-DOC near-dup admission (q104's shape for
      // MinHash): even-id docs are the admitted history, persisted as
      // DISTINCT (band, bucket) signature keys; the odd-id batch is
      // admitted with ONE semi-join against the store — history is
      // never rescanned or re-signatured. Portable md5 key family so
      // the oracle recomputes the identical signatures: sig_i = lexi-min
      // over shingles of md5(i ':' shingle), band bucket = md5 of the
      // '|'-joined band slice. Spark and DuckDB agree on every band
      // collision DETERMINISTICALLY (same keys both sides), so the
      // probabilistic LSH odds never enter the compare.
      (s, d) => {
        val dir = scratchDir("q105")
        val docs = t(s, d, "documents")
        Dedup.appendMinHashStore(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", n = 3, numHashes = 32, bands = 8,
          batchId = 0L, path = dir, portableKeys = true)
        Dedup.admitAgainstMinHashStore(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", n = 3, numHashes = 32, bands = 8,
          path = dir, portableKeys = true)
          .select(col("id").as("doc_id"), col("hit_bands"), col("admit"))
      },
      Some(s"""${tokCte()}${bandKeyCtes()}, store AS (
             |  SELECT DISTINCT band, bucket FROM bnd WHERE doc_id % 2 = 0
             |), hits AS (
             |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS hit_bands
             |  FROM bnd b JOIN store s ON b.band = s.band AND b.bucket = s.bucket
             |  WHERE b.doc_id % 2 = 1
             |  GROUP BY b.doc_id
             |)
             |SELECT d.doc_id,
             |  CAST(coalesce(h.hit_bands, 0) AS BIGINT) AS hit_bands,
             |  coalesce(h.hit_bands, 0) = 0 AS admit
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
             |LEFT JOIN hits h USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),
  )

  /** The unrolled BPE learning chain shared by q97/q101's oracles: one
    * (pairs -> counts -> argmax -> apply) CTE block per round, vocab
    * rows carrying (w, s, freq) so the final CTE is also the encoded
    * vocabulary. Merge application repeats the non-overlapping replace
    * 8 times — occurrences sharing a boundary space are deferred one
    * pass, and 8 passes cover words far beyond any natural length (each
    * pass at least halves what remains).
    */
  private def bpeChainCtes(k: Int): String = {
    def rep(expr: String, n: Int, l: String, r: String): String =
      if (n == 0) expr
      else rep(s"replace($expr, ' ' || $l || ' ' || $r || ' ', " +
        s"' ' || $l || $r || ' ')", n - 1, l, r)
    val head =
      """wf AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |    FROM documents) GROUP BY w
        |), w0 AS (
        |  SELECT w, ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s, freq FROM wf
        |)""".stripMargin
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT unnest(list_transform(range(1, len(tk)), j -> tk[j])) AS l,
         |         unnest(list_transform(range(1, len(tk)), j -> tk[j+1])) AS r,
         |         freq
         |  FROM (SELECT list_filter(string_split(trim(s), ' '), x -> x <> '') AS tk,
         |               freq FROM w${i - 1})
         |), c$i AS (
         |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM p$i GROUP BY l, r
         |), m$i AS (
         |  SELECT l, r, cnt FROM c$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
         |), w$i AS (
         |  SELECT w, ${rep("s", 8, s"m$i.l", s"m$i.r")} AS s, freq FROM w${i - 1}, m$i
         |)""".stripMargin
    }
    s"WITH $head,\n${rounds.mkString(",\n")}"
  }

  private def bpeOracleSql(k: Int): String = {
    val finalSelect = (1 to k).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, l AS "left", r AS "right", cnt AS pair_count FROM m$i"""
    }.mkString("\nUNION ALL\n")
    s"${bpeChainCtes(k)}\n$finalSelect\nORDER BY rank"
  }

  /** q101's oracle: encode = join each word instance to the final chain
    * CTE (the encoded vocabulary) and count its merged symbols.
    */
  private def bpeEncodeOracleSql(k: Int): String =
    s"""${bpeChainCtes(k)},
       |dw AS (
       |  SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents
       |)
       |SELECT lang,
       |  CAST(sum(len(list_filter(string_split(trim(s), ' '), x -> x <> ''))) AS BIGINT)
       |    AS n_bpe_tokens,
       |  CAST(count(*) AS BIGINT) AS n_words
       |FROM dw JOIN w$k USING (w)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Round 6: remaining TPC-H join shapes + n-gram language modeling. */
  private val breadthOps = Seq(
    QDef("q109_tpch_q18",
      // TPC-H Q18 shape (large-volume customers): a group-HAVING derived
      // filter semi-joined back into a 3-way join — the one TPC-H plan
      // shape (aggregate-derived IN subquery) q94-q107 don't cover. The
      // 100 TB plan: the HAVING subquery is one map-side-combinable
      // aggregation of lineitem whose surviving orderkeys are RARE
      // (sum(qty) > 300 ~ 0.3% of orders), so AQE turns the semi join
      // into a broadcast; customer joins on the already-thinned orders;
      // the final per-order aggregation re-shuffles on the same
      // orderkey the lineitem join just used, so it co-partitions.
      // Quantity sums accumulate in DECIMAL (integral values — exact),
      // emitted as double.
      (s, d) => {
        val l = t(s, d, "lineitem")
        val big = l.groupBy(col("l_orderkey"))
          .agg(dsum(col("l_quantity"), 0).as("oq"))
          .filter(col("oq") > 300)
          .select(col("l_orderkey").as("big_okey"))
        t(s, d, "orders")
          .join(big, col("o_orderkey") === col("big_okey"), "left_semi")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"))
          .agg(dsum(col("l_quantity"), 0).as("sum_qty"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            unix_millis(col("o_orderdate").cast("timestamp")).as("orderdate_ms"),
            col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey,
             |  epoch_ms(o_orderdate) AS orderdate_ms, o_totalprice,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sum_qty
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderkey IN (
             |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
             |  HAVING sum(CAST(l_quantity AS DECIMAL(18,0))) > 300)
             |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    QDef("q110_tpch_q19",
      // TPC-H Q19 shape (discounted revenue): an OR-of-ANDs predicate
      // straddling both join sides. What this pins at 100 TB: Catalyst
      // extracts the common l_quantity bounds from the disjunction and
      // pushes `l_quantity >= 1 AND <= 30` INTO the lineitem scan
      // (row-group stats skipping on the fact table before the join),
      // and the p_brand/p_size disjunction likewise reaches the part
      // scan — partial pushdown of a cross-table OR, which a naive
      // post-join filter would evaluate against every joined row. Part
      // is the explicit broadcast side (catalog-known dimension).
      (s, d) => {
        val l = t(s, d, "lineitem")
        val p = t(s, d, "part")
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
              col("l_quantity").between(20, 30)))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"),
            count(lit(1)).cast("long").as("n_items"))
      },
      Some("""SELECT
             |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             |  CAST(count(*) AS BIGINT) AS n_items
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
             |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
             |   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    QDef("q111_bigram_lm",
      // N-gram language-model table: corpus bigram counts + add-1
      // smoothed conditional probability P(w2|w1) = (c12+1)/(c1+V) —
      // the count infrastructure of statistical LM / perplexity-based
      // quality filtering. All counts are exact integers (two
      // map-side-combinable groupBys on token keys); V is a 1-row
      // distinct count broadcast by the cross join; the final division
      // is one IEEE double op on exact integers, so both engines
      // produce identical bits. Top 15 via TakeOrderedAndProject with
      // the (w1, w2) tie-break. Explodes are narrow; nothing shuffles
      // except the two counted keys.
      (s, d) => {
        val tok = t(s, d, "documents")
          .select(TextFunctions.tokens(col("text")).as("tk"))
        val uni = tok.select(explode(col("tk")).as("w"))
        val ucnt = uni.groupBy(col("w")).agg(count(lit(1)).as("c1"))
        val v = uni.agg(countDistinct(col("w")).as("vocab"))
        val bcnt = tok.filter(size(col("tk")) >= 2)
          .select(explode(transform(sequence(lit(0), size(col("tk")) - 2),
            i => struct(
              element_at(col("tk"), i + 1).as("w1"),
              element_at(col("tk"), i + 2).as("w2")))).as("p"))
          .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .agg(count(lit(1)).as("c12"))
        bcnt.join(ucnt, col("w1") === col("w"))
          .crossJoin(v)
          .select(col("w1"), col("w2"), col("c12"), col("c1"), col("vocab"),
            ((col("c12") + 1).cast("double") / (col("c1") + col("vocab")))
              .as("prob"))
          .orderBy(col("c12").desc, col("w1"), col("w2"))
          .limit(15)
      },
      Some("""WITH tok AS (
             |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |  FROM documents
             |), uni AS (
             |  SELECT unnest(tk) AS w FROM tok
             |), ucnt AS (
             |  SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY w
             |), v AS (
             |  SELECT CAST(count(DISTINCT w) AS BIGINT) AS vocab FROM uni
             |), bg AS (
             |  SELECT unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
             |  FROM tok WHERE len(tk) >= 2
             |), bcnt AS (
             |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2
             |)
             |SELECT w1, w2, c12, c1, vocab,
             |  CAST(c12 + 1 AS DOUBLE) / (c1 + vocab) AS prob
             |FROM bcnt JOIN ucnt ON w1 = w CROSS JOIN v
             |ORDER BY c12 DESC, w1, w2 LIMIT 15""".stripMargin)),

    QDef("q112_cc_incremental",
      // Incremental dedup-group maintenance: the near-dup pair graph is
      // split into two "crawl batches"; batch 1 is labeled from
      // scratch, then batch 2 is admitted by resuming from the
      // PERSISTED LABELS ONLY — batch 1's edges are never rescanned
      // (converged labels are a diameter-2 star forest that replays as
      // edges). The end state must equal closed-form reachability over
      // ALL pairs: the same recursive-CTE oracle as the one-shot q57,
      // which is exactly the claim — incremental admission loses
      // nothing. The graph analogue of the q104 gram store and q105
      // signature store.
      (s, d) => {
        val pairs = Dedup.minHashNearDupPairs(
          t(s, d, "documents"), "doc_id", "text",
          numHashes = 128, bands = 64, threshold = 0.6)
        val batch1 = pairs.filter((col("id_a") + col("id_b")) % 2 === 0)
        val batch2 = pairs.filter((col("id_a") + col("id_b")) % 2 =!= 0)
        val labels1 = Components.connectedComponents(batch1, "id_a", "id_b")
        Components.incrementalComponents(labels1, batch2, "id_a", "id_b")
          .orderBy(col("id"))
      },
      Some(ccReachabilityOracle)),

    QDef("q113_tpch_q21",
      // TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
      // this schema: lateness = shipped > 90 days after the order date.
      // The reference formulation is a correlated EXISTS + NOT EXISTS
      // pair over the fact table; the scale-correct Spark plan computes
      // per-order supplier stats ONCE (two map-side-combinable distinct
      // aggregations on the orderkey) and joins them back — every
      // shuffle is on the orderkey the late-line join already
      // established. The ORACLE keeps the textbook correlated
      // EXISTS/NOT EXISTS form, so the DuckDB compare verifies the
      // rewrite itself: late line + another supplier exists + no OTHER
      // late supplier  ==  n_supp >= 2 AND n_late_supp == 1.
      (s, d) => {
        val l = t(s, d, "lineitem")
        val late = l
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 90 DAYS"))
          .select(col("l_orderkey"), col("l_suppkey"))
        val nSupp = l.groupBy(col("l_orderkey"))
          .agg(countDistinct(col("l_suppkey")).as("n_supp"))
        val nLate = late.groupBy(col("l_orderkey"))
          .agg(countDistinct(col("l_suppkey")).as("n_late"))
        late.join(nSupp, "l_orderkey").join(nLate, "l_orderkey")
          .filter(col("n_supp") >= 2 && col("n_late") === 1)
          .join(broadcast(t(s, d, "supplier")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).cast("long").as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      },
      Some("""SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
             |FROM lineitem l1
             |JOIN orders o ON o_orderkey = l1.l_orderkey
             |JOIN supplier ON s_suppkey = l1.l_suppkey
             |WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |              WHERE l2.l_orderkey = l1.l_orderkey
             |                AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |                  WHERE l3.l_orderkey = l1.l_orderkey
             |                    AND l3.l_suppkey <> l1.l_suppkey
             |                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
             |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),

    QDef("q114_lm_score",
      // Perplexity-proxy quality filtering: every document scored by
      // the corpus's own add-1-smoothed bigram LM (q111's model),
      // surfacing the 10 LEAST probable documents — the KenLM-style
      // filter of CCNet/Gopher pipelines, here self-trained so the
      // whole thing is one engine-checkable query. Determinism: double
      // addition is order-sensitive and the per-doc mean runs over a
      // shuffled join, so each bigram's log-prob is rounded to 9 dp and
      // accumulated in DECIMAL (exact, order-free); only the final
      // mean is divided in double and rounded to 6 dp (the bm25W
      // 1-ulp-absorption convention). Scale: the LM tables are
      // token-keyed aggregates joined back on the bigram key — the
      // big exchange is the doc-bigram stream keyed by (w1, w2), and
      // the per-doc mean re-shuffles on doc_id; nothing is ever
      // all-pairs. Smoothing means every bigram (seen or not) has
      // positive probability, but only seen bigrams occur here by
      // construction (the model is trained on the scored corpus).
      (s, d) => {
        val tok = docTokens(s, d)
        val uni = tok.select(explode(col("tk")).as("w"))
        val ucnt = uni.groupBy(col("w")).agg(count(lit(1)).as("c1"))
        val v = uni.agg(countDistinct(col("w")).as("vocab"))
        val bg = tok.filter(size(col("tk")) >= 2)
          .select(col("doc_id"),
            explode(transform(sequence(lit(0), size(col("tk")) - 2),
              i => struct(
                element_at(col("tk"), i + 1).as("w1"),
                element_at(col("tk"), i + 2).as("w2")))).as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        val bcnt = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        bg.join(bcnt, Seq("w1", "w2"))
          .join(ucnt, col("w1") === col("w"))
          .crossJoin(v)
          .select(col("doc_id"),
            round(log((col("c12") + 1).cast("double") / (col("c1") + col("vocab"))), 9)
              .cast(DecimalType(20, 9)).as("lp"))
          .groupBy(col("doc_id"))
          .agg(sum(col("lp")).as("slp"), count(lit(1)).as("n_bigrams"))
          .select(col("doc_id"), col("n_bigrams"),
            round(col("slp").cast("double") / col("n_bigrams"), 6).as("avg_lp"))
          .orderBy(col("avg_lp"), col("doc_id"))
          .limit(10)
      },
      Some(s"""${tokCte()}, uni AS (
             |  SELECT unnest(tk) AS w FROM tok
             |), ucnt AS (
             |  SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY w
             |), v AS (
             |  SELECT CAST(count(DISTINCT w) AS BIGINT) AS vocab FROM uni
             |), bg AS (
             |  SELECT doc_id,
             |    unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
             |  FROM tok WHERE len(tk) >= 2
             |), bcnt AS (
             |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2
             |), lp AS (
             |  SELECT doc_id,
             |    CAST(round(ln(CAST(c12 + 1 AS DOUBLE) / (c1 + vocab)), 9)
             |      AS DECIMAL(20,9)) AS lp
             |  FROM bg JOIN bcnt USING (w1, w2) JOIN ucnt ON w1 = w CROSS JOIN v
             |)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_lp
             |FROM lp GROUP BY doc_id
             |ORDER BY avg_lp, doc_id LIMIT 10""".stripMargin)),

    QDef("q115_hashed_embedding",
      // Closing the text->vector loop: documents get ENGINE-DERIVED
      // embeddings (feature-hashed term-frequency vectors, the hashing
      // trick — dim-32 buckets over the portable md5 family) and the
      // most-similar documents to the first doc are ranked by exact
      // cosine. Everything is integer until the final cosine: tf counts
      // are exact, dot/norms are exact integer sums (held exactly in
      // doubles, dim 32 x small counts), and both engines evaluate
      // dot / (sqrt(na)*sqrt(nb)) in the same literal sequence, rounded
      // to 6 dp. Scale: one narrow explode + ONE aggregation builds all
      // vectors (32 conditional counts, map-side combinable); the 1-row
      // query side broadcasts; scoring is the codegen'd
      // VectorExprs.CosineSimilarity kernel, k rows cross the final
      // top-k. The same vectors feed sign-LSH/IVF/PQ unchanged.
      (s, d) => {
        val dim = 32
        val b = t(s, d, "documents")
          .select(col("doc_id"),
            explode(TextFunctions.tokens(col("text"))).as("w"))
          .select(col("doc_id"),
            pmod(conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long"),
              lit(dim)).as("bk"))
        val vecs = b.groupBy(col("doc_id")).agg(
          array((0 until dim).map(i =>
            count(when(col("bk") === i, lit(1)))): _*).as("v"))
        val q = vecs.orderBy(col("doc_id")).limit(1)
          .select(col("doc_id").as("query_id"), col("v").as("qv"))
        vecs.join(broadcast(q), col("doc_id") =!= col("query_id"))
          .select(col("query_id"), col("doc_id").as("neighbor_id"),
            round(VectorFunctions.cosine(col("qv"), col("v")), 6).as("cos"))
          .orderBy(col("cos").desc, col("neighbor_id"))
          .limit(10)
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
             |  FROM documents
             |), bk AS (
             |  SELECT doc_id,
             |    CAST('0x' || substr(md5(w), 1, 8) AS UBIGINT)::BIGINT % 32 AS bk
             |  FROM tok
             |), bks AS (
             |  SELECT doc_id, list(bk) AS bs FROM bk GROUP BY doc_id
             |), vec AS (
             |  SELECT doc_id, list_transform(range(0, 32),
             |    i -> CAST(len(list_filter(bs, b -> b = i)) AS BIGINT)) AS v
             |  FROM bks
             |), q AS (
             |  SELECT doc_id AS query_id, v AS qv FROM vec ORDER BY doc_id LIMIT 1
             |), sc AS (
             |  SELECT query_id, doc_id AS neighbor_id,
             |    CAST(list_sum(list_transform(range(1, 33), i -> qv[i] * v[i])) AS DOUBLE) AS dot,
             |    CAST(list_sum(list_transform(range(1, 33), i -> qv[i] * qv[i])) AS DOUBLE) AS na,
             |    CAST(list_sum(list_transform(range(1, 33), i -> v[i] * v[i])) AS DOUBLE) AS nb
             |  FROM vec, q WHERE doc_id <> query_id
             |)
             |SELECT query_id, neighbor_id,
             |  round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
             |FROM sc ORDER BY cos DESC, neighbor_id LIMIT 10""".stripMargin)),

    QDef("q116_ivfpq_topk",
      // The composite 100 TB ANN index (IVFADC): IVF coarse cells prune
      // the SCAN (nprobe/nlist of the corpus per query), PQ residual
      // codes shrink what it READS (m codes vs the vector), exact
      // re-rank bounds the approximation to the shortlist — with the
      // q35/q102 ORACLE-GATED recall pattern: overall recall vs the
      // in-query brute force must come out TRUE at >= 0.8. The score
      // decomposes exactly as dot(q, centroid) + LUT(residual codes);
      // near-uniform synthetic embeddings are the worst quantizable
      // case (same widening note as q35/q102), hence m=16 and the wide
      // probe/shortlist.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        // settings chosen from a measured recall sweep at sf0.1 (the
        // 10x scale the catalog must also pass at): nprobe=8/sf=16 sat
        // at 0.76 there — trivially wide at 200 vectors, too narrow at
        // 2000 — while nprobe=12/sf=32 measures 0.94
        val ivfpq = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", 5,
          nlist = 16, nprobe = Nprobe, m = 16, kcode = 16,
          nassign = 2, shortlistFactor = Shortlist)
          .select("query_id", "neighbor_id")
        val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
          .select("query_id", "neighbor_id")
        val w = Window.partitionBy() // 10 rows by this point: tiny
        ivfpq.join(bf.withColumn("hit", lit(1L)),
            Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_results"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("query_id"), col("n_results"),
            (sum(col("n_hits")).over(w).cast("double")
              / sum(col("n_results")).over(w) >= 0.8).as("recall_ge_080"))
          .orderBy(col("query_id"))
      },
      Some(gateOracle("TRUE AS recall_ge_080"))),

    QDef("q117_tpch_q15",
      // TPC-H Q15 shape (top supplier): an aggregate compared against
      // the MAX of the same aggregate — the "view + scalar subquery
      // over it" plan. The revenue view is computed ONCE and reused for
      // both sides (the 1-row max broadcasts back onto it; Spark plans
      // a ReusedExchange for the shared aggregation). Joining on
      // DOUBLE equality is safe here and only here because both sides
      // come from the same decimal-exact sum — the determinism rules
      // this catalog runs on are what make the textbook formulation
      // portable at all.
      (s, d) => {
        // the explicit isNotNull matches the constraint the supplier
        // join infers on the OTHER branch — without it the two rev
        // subtrees canonicalize differently (one scan carries
        // IsNotNull(l_suppkey), one doesn't) and Spark cannot plan the
        // ReusedExchange this query exists to demonstrate
        val rev = t(s, d, "lineitem")
          .filter(col("l_suppkey").isNotNull &&
            col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("total_revenue"))
        val mx = rev.agg(max(col("total_revenue")).as("mr"))
        rev.join(broadcast(mx), col("total_revenue") === col("mr"))
          .join(broadcast(t(s, d, "supplier")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH rev AS (
             |  SELECT l_suppkey,
             |    CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |    AND l_shipdate < TIMESTAMP '1996-04-01'
             |  GROUP BY l_suppkey
             |)
             |SELECT s_suppkey, s_name, total_revenue
             |FROM supplier JOIN rev ON s_suppkey = l_suppkey
             |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
             |ORDER BY s_suppkey""".stripMargin)),

    QDef("q118_corpus_health",
      // Per-source corpus-health dashboard: token volume, vocabulary
      // size, type-token ratio, and hapax-legomena fraction (types
      // seen once — the classic crawl-quality signal: too high means
      // noise/OCR garbage, too low means boilerplate). All counts are
      // exact integers from two map-side-combinable groupBys (token
      // frequency per source, then per-source rollup); the two ratios
      // are single IEEE divisions of exact integers, rounded 6 dp.
      (s, d) => t(s, d, "documents")
        .select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(sum(col("cnt")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          count(when(col("cnt") === 1, lit(1))).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
          round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
          round(col("n_hapax").cast("double") / col("n_types"), 6).as("hapax_frac"))
        .orderBy(col("source")),
      Some("""WITH tok AS (
             |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
             |  FROM documents
             |), wf AS (
             |  SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
             |  FROM tok GROUP BY source, w
             |)
             |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
             |  CAST(count(*) AS BIGINT) AS n_types,
             |  CAST(count(*) FILTER (cnt = 1) AS BIGINT) AS n_hapax,
             |  round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS ttr,
             |  round(CAST(count(*) FILTER (cnt = 1) AS DOUBLE) / count(*), 6) AS hapax_frac
             |FROM wf GROUP BY source ORDER BY source""".stripMargin)),

    QDef("q119_ivfpq_persisted",
      // Composite IVF-PQ index persistence end-to-end: fit the pair
      // (coarse centroids + residual codebooks) ONCE, save it as one
      // artifact, load it back, and search with the loaded pair — the
      // fit-once-search-many production shape for a 100 TB corpus.
      // Both halves round-trip doubles exactly through parquet and the
      // search path is deterministic given (cents, books) — the TopKAgg
      // replica dedup keeps the max score per id, so shortlist
      // membership is partition-order-free — hence loaded-index results
      // must equal fresh-index results ROW FOR ROW (q84's null-safe
      // full-outer-join gate applied to the composite).
      (s, d) => {
        val dir = scratchDir("q119")
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val (cents, books) = fitIvfPq(emb)
        Similarity.saveIvfPqIndex(s, cents, books, dir)
        val (lc, lb) = Similarity.loadIvfPqIndex(s, dir)
        def run(cs: Array[Array[Double]], bs: Array[Array[Array[Double]]],
            out: String) =
          ivfPqSearch(q, emb, cs, bs)
            .select(col("query_id"), col("rank"), col("neighbor_id").as(out))
        run(cents, books, "n_fresh")
          .join(run(lc, lb, "n_loaded"), Seq("query_id", "rank"), "full")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).cast("long").as("n_results"),
            bool_and(col("n_fresh") <=> col("n_loaded")).as("loaded_eq_fresh"))
          .orderBy(col("query_id"))
      },
      Some(gateOracle("TRUE AS loaded_eq_fresh"))),

    QDef("q120_knn_join",
      // Distributed kNN JOIN: EVERY embedding to its top-k neighbors —
      // the corpus-scale building block SemDeDup and retrieval dedup
      // sit on. No broadcast anywhere: probe lists and coded corpus
      // co-partition on cell (the bucketed plan — candidates only ever
      // meet inside probed cells, never Q x N), and the query side is
      // built as a narrow map (never collected: the r6 scale-killer).
      // Oracle-gated with the q116 recall pattern, but over ALL N
      // queries: overall recall vs the in-query brute force must come
      // out TRUE at >= 0.8 (near-uniform synthetic embeddings are the
      // hardest quantizable case, hence the wide probe/shortlist; the
      // settings carry over from q116's measured sf0.1 sweep).
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val (cents, books) = fitIvfPq(emb)
        val knn = Similarity.ivfPqKnnJoin(emb, "vec_id", "embedding", 5,
          cents, books, nprobe = Nprobe, nassign = 2, shortlistFactor = Shortlist)
          .select("query_id", "neighbor_id")
        val bf = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 5)
          .select("query_id", "neighbor_id")
        knn.join(bf.withColumn("hit", lit(1L)),
            Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_results"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .agg(count(lit(1)).cast("long").as("n_queries"),
            bool_and(col("n_results") === 5).as("k_results_each"),
            (sum(col("n_hits")).cast("double") / sum(col("n_results"))
              >= 0.8).as("recall_ge_080"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
             |  TRUE AS k_results_each, TRUE AS recall_ge_080
             |FROM embeddings""".stripMargin)),

    QDef("q123_ivfpq_admission",
      // Incremental ANN admission — the admission-store family (q104
      // grams, q105 signatures, q112 components, q83 sketches) reaching
      // vectors: fit the index on the FIRST 80% of the corpus, persist
      // it, then admit the corpus in two crawl batches by encoding each
      // against the PERSISTED index (one narrow pass per batch, history
      // never rescanned) into a batch_id=N coded store. Searching the
      // store must equal searching a from-scratch inline encode of the
      // same corpus with the same index ROW FOR ROW (the q119 null-safe
      // full-outer gate): encoding is a pure function of (vector,
      // index), so admission loses nothing — the whole claim of
      // refit-free growth. The late batch is out-of-distribution for
      // the index (it never saw those vectors at fit time), which is
      // exactly the production shape between drift-triggered refits.
      (s, d) => {
        val dir = scratchDir("q123")
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 < 8)
        val late = emb.filter(col("vec_id") % 10 >= 8)
        val q = emb.filter(col("vec_id") < 10)
        val (cents, books) = fitIvfPq(base)
        Similarity.saveIvfPqIndex(s, cents, books, dir + "/index")
        val (lc, lb) = Similarity.loadIvfPqIndex(s, dir + "/index")
        Similarity.appendCodedBatch(base, "vec_id", "embedding", lc, lb,
          batchId = 0L, path = dir + "/store")
        Similarity.appendCodedBatch(late, "vec_id", "embedding", lc, lb,
          batchId = 1L, path = dir + "/store")
        val admitted = Similarity.searchCodedStore(s, q,
            "vec_id", "embedding", 5, lc, lb, dir + "/store",
            nprobe = Nprobe, shortlistFactor = Shortlist)
          .select(col("query_id"), col("rank"), col("neighbor_id").as("n_admitted"))
        val fresh = ivfPqSearch(q, emb, cents, books)
          .select(col("query_id"), col("rank"), col("neighbor_id").as("n_fresh"))
        admitted.join(fresh, Seq("query_id", "rank"), "full")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).cast("long").as("n_results"),
            bool_and(col("n_admitted") <=> col("n_fresh")).as("admitted_eq_fresh"))
          .orderBy(col("query_id"))
      },
      Some(gateOracle("TRUE AS admitted_eq_fresh"))),

    QDef("q124_semdedup_knn",
      // SemDeDup's corpus-scale form (kNN join -> threshold ->
      // components) on the q56 re-crawl fixture: every vector unioned
      // with an id-shifted exact clone, no natural pair near cos 0.99.
      // Each clone pair must meet inside the kNN join (identical
      // vectors share cells and codes, so the clone tops its twin's
      // shortlist and re-ranks to cos 1.0), edges above threshold form
      // exactly the clone pairs, and components must therefore be
      // exactly {v, v+shift} with comp = original id — stated in closed
      // form by the oracle, the same reachability-gate pattern as
      // q56/q57. Unlike q56's cell-scoped pairs there is NO quadratic
      // stage to bound: k caps every vector's edge degree structurally,
      // which is what makes this the 100 TB path (the q120 co-partition
      // plan underneath, spec-asserted broadcast-hint-free).
      (s, d) => {
        val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val recrawl = emb.unionByName(
          emb.select((col("vec_id") + CloneShift).as("vec_id"), col("embedding")))
        Dedup.semanticDedupGroupsKnn(recrawl, "vec_id", "embedding")
          .orderBy(col("id"))
      },
      Some(s"""SELECT vec_id AS id, vec_id AS comp FROM embeddings
              |UNION ALL
              |SELECT vec_id + $CloneShift AS id, vec_id AS comp FROM embeddings
              |ORDER BY id""".stripMargin)),

    QDef("q121_tpch_q17",
      // TPC-H Q17 shape (small-quantity-order revenue): lineitems of a
      // narrow part subset, fenced by a CORRELATED scalar subquery —
      // quantity below 20% of that part's own average. The scale-correct
      // Spark plan decorrelates: the filtered part set is tiny
      // (brand x size selectivity ~1/300) so it BROADCASTS into a semi
      // restriction of lineitem, the per-part average is ONE map-side-
      // combinable aggregation over those surviving rows (identical to
      // the correlated avg because the fence only ever evaluates at
      // partkeys inside the subset), and the fence itself is a broadcast
      // join of that per-part aggregate back onto the same rows. The
      // ORACLE keeps the textbook correlated form, so the DuckDB compare
      // proves the decorrelation. Determinism: l_quantity is
      // integral-valued (exact double sums, order-free); the threshold
      // is the same literal sequence 0.2*(sum/count) in both engines;
      // revenue is a decimal-exact dsum and the /7.0 is a single IEEE
      // division of identical doubles — no rounding needed anywhere.
      (s, d) => {
        val p = t(s, d, "part")
          .filter(col("p_brand") === "Brand#23" && col("p_size") < 5)
          .select(col("p_partkey"))
        val lp = t(s, d, "lineitem")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        val fence = lp.groupBy(col("l_partkey").as("f_partkey"))
          .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
        lp.join(broadcast(fence), col("l_partkey") === col("f_partkey"))
          .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
          .agg((dsum(col("l_extendedprice"), 2) / lit(7.0)).as("avg_yearly"))
      },
      Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             |  AS avg_yearly
             |FROM lineitem l JOIN part pt ON pt.p_partkey = l.l_partkey
             |WHERE pt.p_brand = 'Brand#23' AND pt.p_size < 5
             |  AND l.l_quantity < 0.2 * (
             |    SELECT sum(l_quantity) / count(*) FROM lineitem l2
             |    WHERE l2.l_partkey = pt.p_partkey)""".stripMargin)),

    QDef("q122_tpch_q22",
      // TPC-H Q22 shape (global sales opportunity), adapted to this
      // schema: high-balance customers in a 7-nation set with NO recent
      // orders (the original's "no orders at all" is empty here — every
      // customer has orders; dormancy since 2000-01-01 keeps the exact
      // anti-join + correlated-scalar-average structure with real
      // signal). Two decorrelations in one query: the scalar avg
      // subquery becomes a 1-row broadcast cross join (computed once,
      // not per row), and NOT EXISTS becomes a left-anti hash join
      // against the date-filtered orders projection (the date filter
      // reaches the orders scan's PushedFilters, so the anti side ships
      // only recent custkeys). The ORACLE keeps both correlated forms.
      // Determinism: the average threshold is decimal-exact sum / count
      // in the same literal sequence both sides; totacctbal is dsum.
      (s, d) => {
        val nations = Seq(1, 3, 5, 7, 9, 11, 13)
        val cust = t(s, d, "customer")
          .filter(col("c_nationkey").isin(nations: _*))
        val avgBal = cust.filter(col("c_acctbal") > 0)
          .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double")
            / count(lit(1))).as("avg_bal"))
        val recent = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey"))
        cust.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy((col("c_nationkey") % 5).cast("long").as("cntrycode"))
          .agg(count(lit(1)).cast("long").as("numcust"),
            dsum(col("c_acctbal"), 2).as("totacctbal"))
          .orderBy(col("cntrycode"))
      },
      Some("""SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
             |  CAST(count(*) AS BIGINT) AS numcust,
             |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
             |FROM customer c
             |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
             |  AND c_acctbal > (
             |    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
             |    FROM customer WHERE c_acctbal > 0
             |      AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
             |  AND NOT EXISTS (
             |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
             |      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
             |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin)),

    QDef("q127_semdedup_admission",
      // The WHOLE crawl-admission loop incremental, end to end: q123's
      // coded-store vector admission composed with q112's incremental
      // component maintenance. Batch 1 (80% of the clone corpus, split
      // so clone pairs land on BOTH sides of the boundary — 2^40 % 10
      // = 6 shifts each clone's bucket) is coded, kNN-searched against
      // the store, thresholded, and labeled from scratch; batch 2 is
      // then ADMITTED: coded into its own store directory (history
      // untouched), kNN-searched against the NOW-GROWN store (so
      // cross-batch clone pairs are found — the store is what makes
      // new-vs-history edges discoverable without rescanning history),
      // and its edges resumed from the PERSISTED LABELS ONLY. The end
      // state must equal q124's one-shot closed form exactly: nothing
      // about incrementality — not the index fit on batch 1 alone, not
      // the split clone pairs, not the label replay — may lose a group
      // or invent one. No refit, no history rescan, anywhere.
      (s, d) => {
        val dir = scratchDir("q127")
        val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val recrawl = emb.unionByName(
          emb.select((col("vec_id") + CloneShift).as("vec_id"), col("embedding")))
        val b1 = recrawl.filter(col("vec_id") % 10 < 8)
        val b2 = recrawl.filter(col("vec_id") % 10 >= 8)
        val (cents, books) = fitIvfPq(b1)
        Similarity.saveIvfPqIndex(s, cents, books, dir + "/index")
        val (lc, lb) = Similarity.loadIvfPqIndex(s, dir + "/index")
        def edgesFor(queries: DataFrame) =
          Similarity.searchCodedStore(s, queries, "vec_id", "embedding", 5,
            lc, lb, dir + "/store", nprobe = Nprobe, shortlistFactor = Shortlist,
            broadcastQueries = false)
            .filter(col("cos") >= 0.99)
            .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
        Similarity.appendCodedBatch(b1, "vec_id", "embedding", lc, lb,
          batchId = 0L, path = dir + "/store")
        // per-batch singleton union: each batch's edge-less vectors enter
        // the label store self-labeled AS the batch is admitted (an O(batch)
        // left-anti join), so the survivor contract covers every admitted
        // vector without ever rescanning history for isolated ids
        val labels1 = Components.withSingletonComponents(
          Components.connectedComponents(edgesFor(b1), "id_a", "id_b"),
          b1, "vec_id")
        Similarity.appendCodedBatch(b2, "vec_id", "embedding", lc, lb,
          batchId = 1L, path = dir + "/store")
        Components.withSingletonComponents(
          Components.incrementalComponents(labels1, edgesFor(b2), "id_a", "id_b"),
          b2, "vec_id")
          .orderBy(col("id"))
      },
      Some(s"""SELECT vec_id AS id, vec_id AS comp FROM embeddings
              |UNION ALL
              |SELECT vec_id + $CloneShift AS id, vec_id AS comp FROM embeddings
              |ORDER BY id""".stripMargin)),

    QDef("q125_tpch_q2",
      // TPC-H Q2 shape (min-cost supplier), adapted to this schema
      // (no partsupp table: unit cost = l_extendedprice / l_quantity
      // over each part's lineitems): for every size-15 part, the
      // supplier(s) whose unit cost EQUALS the part's minimum — the
      // argmin-witness selection of a correlated MIN subquery, a
      // different decorrelation from Q17's inequality fence. The
      // scale-correct plan computes the per-part minimum ONCE (one
      // map-side-combinable min aggregation over the part-restricted
      // rows) and equality-joins it back; the ORACLE keeps the textbook
      // correlated form. Determinism: the division is the same IEEE
      // operation on identical operands in both engines, min is
      // order-free, and equality compares those identical doubles — no
      // rounding needed anywhere.
      (s, d) => {
        val pts = t(s, d, "part").filter(col("p_size") === 15)
          .select(col("p_partkey"))
        val lp = t(s, d, "lineitem")
          .join(broadcast(pts), col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"), col("l_suppkey"),
            (col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
        val mins = lp.groupBy(col("l_partkey").as("m_partkey"))
          .agg(min(col("unit_cost")).as("min_cost"))
        lp.join(broadcast(mins),
            col("l_partkey") === col("m_partkey") &&
              col("unit_cost") === col("min_cost"))
          .select(col("l_partkey").as("p_partkey"), col("l_suppkey"),
            col("unit_cost"))
          .distinct()
          .join(broadcast(t(s, d, "supplier")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("p_partkey"), col("s_suppkey"), col("s_name"),
            col("unit_cost"))
          .orderBy(col("p_partkey"), col("s_suppkey"))
      },
      Some("""SELECT DISTINCT l.l_partkey AS p_partkey, s.s_suppkey, s.s_name,
             |  l.l_extendedprice / l.l_quantity AS unit_cost
             |FROM lineitem l
             |JOIN part pt ON pt.p_partkey = l.l_partkey
             |JOIN supplier s ON s.s_suppkey = l.l_suppkey
             |WHERE pt.p_size = 15
             |  AND l.l_extendedprice / l.l_quantity = (
             |    SELECT min(l2.l_extendedprice / l2.l_quantity)
             |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
             |ORDER BY p_partkey, s_suppkey""".stripMargin)),

    QDef("q126_tpch_q20",
      // TPC-H Q20 shape (excess-inventory supplier chain), adapted (no
      // partsupp): suppliers whose 1996 shipments of a brand's parts
      // exceed 10% of that part's ALL-TIME shipped volume — a nested
      // IN whose inner query carries a correlated scalar SUM in its
      // HAVING, the deepest decorrelation shape in the catalog. The
      // Spark plan is two aggregations sharing the l_partkey exchange
      // (per-(part,supplier) 1996 volume; per-part total volume)
      // joined and filtered, with the surviving supplier keys
      // LEFT-SEMI-joined into supplier — nothing correlated executes
      // per row anywhere. The ORACLE keeps the textbook nested form.
      // Determinism: l_quantity sums are exact in double, and the 10%
      // threshold is the same multiply-then-compare literal sequence
      // both sides.
      (s, d) => {
        val pts = t(s, d, "part").filter(col("p_brand") === "Brand#21")
          .select(col("p_partkey"))
        val lp = t(s, d, "lineitem")
          .join(broadcast(pts), col("l_partkey") === col("p_partkey"))
        val y96 = lp
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity")).as("q96"))
        val totals = lp.groupBy(col("l_partkey"))
          .agg(sum(col("l_quantity")).as("qt"))
        val winners = y96.join(totals, "l_partkey")
          .filter(col("q96") > lit(0.1) * col("qt"))
          .select(col("l_suppkey")).distinct()
        t(s, d, "supplier")
          .join(winners, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"))
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT s_suppkey, s_name FROM supplier s
             |WHERE s_suppkey IN (
             |  SELECT l_suppkey
             |  FROM lineitem l JOIN part pt ON pt.p_partkey = l.l_partkey
             |  WHERE pt.p_brand = 'Brand#21'
             |    AND l.l_shipdate >= TIMESTAMP '1996-01-01'
             |    AND l.l_shipdate < TIMESTAMP '1997-01-01'
             |  GROUP BY l.l_partkey, l_suppkey
             |  HAVING sum(l_quantity) > 0.1 * (
             |    SELECT sum(l2.l_quantity) FROM lineitem l2
             |    WHERE l2.l_partkey = l.l_partkey))
             |ORDER BY s_suppkey""".stripMargin)),

    QDef("q128_index_refit",
      // The REFIT ACTUATOR closing the incremental-ANN lifecycle that
      // q123 (admission) and the drift dashboard started: gen-1 index
      // fit on the first 80% only, both crawl batches admitted against
      // it, then VectorStore.refit fits generation 2 on the STORE'S OWN
      // vectors (a narrow primary-replica filter — no raw-source
      // rescan), re-encodes each batch in one narrow pass into gen=2
      // directories, and atomically advances the _CURRENT pointer.
      // Three gates, all deterministic: (a) searching the migrated
      // gen-2 store equals an inline from-scratch encode+search of the
      // same corpus under the gen-2 artifact ROW FOR ROW — migration is
      // a pure re-encode of (vector, index), it can lose nothing; (b)
      // generation-1 readers are unaffected by the whole refit: the
      // pre-refit gen-1 answer (captured eagerly) equals a post-refit
      // read of the explicit gen-1 path, which the refit never writes;
      // (c) a retried refit is a compare-and-swap no-op — it returns
      // the published generation and creates no gen 3.
      (s, d) => {
        import s.implicits._
        val root = scratchDir("q128") + "/vstore"
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 < 8)
        val late = emb.filter(col("vec_id") % 10 >= 8)
        val q = emb.filter(col("vec_id") < 10)
        val (c1, b1) = fitIvfPq(base)
        VectorStore.init(s, root, c1, b1)
        VectorStore.admit(s, root, base, "vec_id", "embedding", 0L)
        VectorStore.admit(s, root, late, "vec_id", "embedding", 1L)
        // pre-refit gen-1 answer, captured EAGERLY: a lazy frame would
        // re-read gen-1 only after the refit ran and could not witness
        // that the refit left it untouched
        val pre = storeSearch(s, root, q, Some(1L))
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val retryNoop = casRetryNoop(root)(refitIvfPq(s, root, 1L))
        val postG1 = storeSearch(s, root, q, Some(1L))
          .select(col("query_id"), col("rank"), col("neighbor_id").as("n_post"))
        val stable = pre.toDF("query_id", "rank", "n_pre")
          .join(postG1, Seq("query_id", "rank"), "full")
          .agg(coalesce(bool_and(col("n_pre") <=> col("n_post")), lit(false))
            .as("gen1_stable"))
        val (c2, b2) = VectorStore.loadGenIndex(s, root, 2L)
        val store = storeSearch(s, root, q)
          .select(col("query_id"), col("rank"), col("neighbor_id").as("n_store"))
        val inline = ivfPqSearch(q, emb, c2, b2)
          .select(col("query_id"), col("rank"), col("neighbor_id").as("n_inline"))
        store.join(inline, Seq("query_id", "rank"), "full")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).cast("long").as("n_results"),
            bool_and(col("n_store") <=> col("n_inline")).as("store_eq_inline"))
          .crossJoin(broadcast(stable))
          .withGates("retry_noop" -> retryNoop,
            "current_gen" -> VectorStore.currentGen(root))
          .orderBy(col("query_id"))
      },
      Some(gateOracle(
        "TRUE AS store_eq_inline, TRUE AS gen1_stable",
        "TRUE AS retry_noop, CAST(2 AS BIGINT) AS current_gen"))),

    QDef("q129_tpch_q13",
      // TPC-H Q13 (customer order-count distribution): LEFT OUTER
      // customer⋈orders with the order-side restriction INSIDE the join
      // condition — the classic trap this shape exists to exercise:
      // moving "o_orderpriority <> '1-URGENT'" into a WHERE clause
      // would turn the join inner and silently delete the zero-order
      // bucket the outer join exists to keep. count(o_orderkey) — the
      // NULLABLE column — per customer counts unmatched customers as 0;
      // the histogram of those counts is the only null-producing-join-
      // under-aggregation shape in the catalog. Scale: Catalyst pushes
      // the priority predicate to the orders scan (a right-side-only
      // conjunct of a left join filters the right INPUT safely), the
      // join shuffles on the custkey (or broadcasts the dim side at
      // small SF), and both aggregations are partial/final pairs.
      // Determinism: counts are exact; the final sort's tie-break key
      // c_count is unique within the histogram.
      (s, d) => {
        val c = t(s, d, "customer").select(col("c_custkey"))
        val o = t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"))
        c.join(o,
            col("c_custkey") === col("o_custkey") &&
              col("o_orderpriority") =!= "1-URGENT", "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).cast("long").as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).cast("long").as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
             |FROM (
             |  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
             |  FROM customer c LEFT OUTER JOIN orders o
             |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
             |  GROUP BY c.c_custkey) co
             |GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    QDef("q130_transitional_search",
      // Zero-downtime serving MID-REFIT: a 100 TB migration is not
      // atomic, so VectorStore.searchTransitional serves queries as the
      // exact top-k merge of batches already re-encoded under gen 2
      // (searched with the new index) and batches still under gen 1
      // (searched with the old) — sound because every search re-ranks
      // on true cosine, so scores are index-independent and comparable.
      // Three migration states of a 3-batch store, gated per query:
      // (a) ZERO batches migrated (refitStart has fit gen 2 but moved
      // nothing): transitional == the plain gen-1 search row for row;
      // (b) MID-migration (batch 0 re-encoded, 1 and 2 not):
      // transitional == an INDEPENDENT merge of the two per-side
      // searches — union ranked by a window over (cos desc, id asc),
      // the same total order TopKAgg maintains, computed by Spark's
      // window operator instead of the Aggregator under test;
      // (c) ALL batches migrated + pointer advanced: transitional ==
      // the plain gen-2 search row for row (and _CURRENT reads 2).
      // Scale shape: each side is the audited coded-frame search plan
      // (q123); the merge adds one k-bounded per-query aggregation —
      // no side rescans the other's batches, no downtime window.
      (s, d) => {
        val root = scratchDir("q130") + "/vstore"
        val emb = t(s, d, "embeddings")
        val b0 = emb.filter(col("vec_id") % 10 < 6)
        val b1 = emb.filter(col("vec_id") % 10 >= 6 && col("vec_id") % 10 < 8)
        val b2 = emb.filter(col("vec_id") % 10 >= 8)
        val q = emb.filter(col("vec_id") < 10)
        val k = 5
        def names(df: DataFrame, as: String) =
          df.select(col("query_id"), col("rank"), col("neighbor_id").as(as))
        def rowEq(a: DataFrame, an: String, b: DataFrame, bn: String, out: String) =
          names(a, an).join(names(b, bn), Seq("query_id", "rank"), "full")
            .groupBy(col("query_id"))
            .agg(coalesce(bool_and(col(an) <=> col(bn)), lit(false)).as(out))
        val (c1, bk1) = fitIvfPq(b0)
        VectorStore.init(s, root, c1, bk1)
        VectorStore.admit(s, root, b0, "vec_id", "embedding", 0L)
        VectorStore.admit(s, root, b1, "vec_id", "embedding", 1L)
        VectorStore.admit(s, root, b2, "vec_id", "embedding", 2L)
        def trans() = VectorStore.searchTransitional(s, root, 1L, 2L, q,
          "vec_id", "embedding", k, nprobe = Nprobe, shortlistFactor = Shortlist)
        // (a) gen 2 exists, zero batches migrated: transitional must BE
        // the old-generation answer (eagerly compared before any
        // migration mutates the gen-2 side it reads)
        VectorStore.refitStart(s, root, expectedGen = 1L,
          nlist = 16, kmeansIters = 3, m = 16, kcode = 16, pqIters = 2)
        val zeroEq = rowEq(
          trans(), "n_t0",
          storeSearch(s, root, q, Some(1L), k), "n_g1", "zero_eq_old")
          .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
        // (b) batch 0 migrated: independent window-ranked merge of the
        // two per-side coded searches
        VectorStore.migrateBatch(s, root, fromGen = 1L, toGen = 2L, batchId = 0L)
        val (c2, bk2) = VectorStore.loadGenIndex(s, root, 2L)
        def sideSearch(gen: Long, cs: Array[Array[Double]],
            bs: Array[Array[Array[Double]]], ids: Seq[Long]) =
          Similarity.searchCodedFrame(
            Tables.parquet(s, ids.map(i =>
              s"${VectorStore.codedDir(root, gen)}/batch_id=$i"): _*),
            q, "vec_id", "embedding", k, cs, bs,
            nprobe = Nprobe, shortlistFactor = Shortlist)
        val manual = sideSearch(2L, c2, bk2, Seq(0L))
          .unionByName(sideSearch(1L, c1, bk1, Seq(1L, 2L)))
          .withColumn("mrank", row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("cos").desc, col("neighbor_id").asc)))
          .filter(col("mrank") <= k)
          .select(col("query_id"), col("mrank").cast("long").as("rank"),
            col("neighbor_id"))
        val midEq = rowEq(trans(), "n_tm", manual, "n_mm", "mid_eq_merge")
          .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
        // (c) migration complete, pointer advanced
        VectorStore.migrateBatch(s, root, 1L, 2L, 1L)
        VectorStore.migrateBatch(s, root, 1L, 2L, 2L)
        VectorStore.refitFinish(s, root, toGen = 2L)
        val fullEq = rowEq(
          trans(), "n_tf",
          storeSearch(s, root, q, Some(2L), k), "n_g2", "full_eq_new")
        import s.implicits._
        zeroEq.toDF("query_id", "zero_eq_old")
          .join(midEq.toDF("query_id", "mid_eq_merge"), Seq("query_id"), "full")
          .join(fullEq, Seq("query_id"), "full")
          .withColumn("zero_eq_old", coalesce(col("zero_eq_old"), lit(false)))
          .withColumn("mid_eq_merge", coalesce(col("mid_eq_merge"), lit(false)))
          .withColumn("full_eq_new", coalesce(col("full_eq_new"), lit(false)))
          .withColumn("current_gen",
            lit(VectorStore.currentGen(root)).cast("long"))
          .orderBy(col("query_id"))
      },
      Some("""SELECT vec_id AS query_id, TRUE AS zero_eq_old,
             |  TRUE AS mid_eq_merge, TRUE AS full_eq_new,
             |  CAST(2 AS BIGINT) AS current_gen
             |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin))
  )

  // ---------------------------------------------------------------------------
  // TPC-H completion: the eight query shapes (Q6/Q7/Q8/Q9/Q11/Q12/Q14/Q16) not
  // yet covered by the decorrelation family — with these, all 22 TPC-H query
  // shapes run against the catalog (adapted where the testdata schema lacks
  // partsupp / shipmode / supplycost, keeping each query's DEFINING plan
  // shape: the multi-way join topology, the conditional-aggregate ratio, the
  // scalar-subquery HAVING, the NOT-IN anti-join under count-distinct).
  // ---------------------------------------------------------------------------

  private val tpchComplete = Seq(
    QDef("q131_tpch_q6",
      // TPC-H Q6 (forecasting revenue change): the pure scan-side query —
      // every predicate (date window, discount band, quantity cap) is a
      // single-column comparison that must reach the parquet scan's
      // PushedFilters, and the answer is one map-side-combinable global
      // aggregate with NO shuffle beyond the final 1-row exchange. At
      // 100 TB this query is entirely I/O-bound row-group pruning: the
      // shipdate window plus min/max stats skip most row groups before a
      // byte of the money columns is decoded. Determinism: the
      // revenue product is the same IEEE multiply both engines, then
      // decimal-exact accumulation (dsum pattern, q106).
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue")),
      Some("""SELECT CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07
             |  AND l_quantity < 24""".stripMargin)),

    QDef("q132_tpch_q7",
      // TPC-H Q7 (volume shipping): the two-nation bidirectional trade
      // query — lineitem⋈orders⋈customer⋈nation on one side,
      // lineitem⋈supplier⋈nation on the other, with the (n1,n2) pair
      // DISJUNCTION evaluated after both nation names are in scope.
      // The 100 TB plan: both nation lookups broadcast; the
      // nation-filtered SUPPLIER side also broadcasts (one nation pair
      // keeps ~8% of suppliers); customer is pre-filtered to the two
      // nations BEFORE its join so the orders shuffle carries 2/25 of
      // customers; the only big-big shuffle is lineitem⋈orders on
      // orderkey with the shipdate window pushed to the lineitem scan.
      // Determinism: year() is the same UTC extraction both engines
      // (cast long = BIGINT); revenue via dsum.
      (s, d) => {
        val pair = Seq("NATION_10", "NATION_12")
        val sup = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")
              .filter(col("n_name").isin(pair: _*))
              .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("snk"))
          .select(col("s_suppkey"), col("supp_nation"))
        val cust = t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")
              .filter(col("n_name").isin(pair: _*))
              .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("cnk"))
          .select(col("c_custkey"), col("cust_nation"))
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .filter((col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12") ||
            (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
             |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             |FROM supplier s
             |JOIN lineitem l ON s.s_suppkey = l.l_suppkey
             |JOIN orders o ON o.o_orderkey = l.l_orderkey
             |JOIN customer c ON c.c_custkey = o.o_custkey
             |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
             |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
             |WHERE ((n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12')
             |    OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10'))
             |  AND l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-01-01'
             |GROUP BY supp_nation, cust_nation, l_year
             |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    QDef("q133_tpch_q8",
      // TPC-H Q8 (national market share): the widest join topology in
      // TPC-H (lineitem⋈part⋈orders⋈customer⋈nation⋈region on the
      // demand side, ⋈supplier⋈nation on the supply side) feeding a
      // CONDITIONAL-AGGREGATE RATIO — share = sum(volume where supplier
      // is the target nation) / sum(volume) per order year. The 100 TB
      // plan: part (type-filtered), supplier+nation, and the
      // region-restricted customer-key set all broadcast; lineitem joins
      // orders on the one big shuffle; customer membership is a
      // LEFT-SEMI (c_custkey is unique, so semi == inner, without
      // carrying customer columns through the shuffle). Both CASE
      // branches accumulate decimal-exact in ONE aggregation pass —
      // never two scans. Determinism: the final division is the same
      // IEEE op on two decimal-exact doubles.
      (s, d) => {
        val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
        val asiaCust = t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")
              .join(broadcast(t(s, d, "region").filter(col("r_name") === "ASIA")),
                col("n_regionkey") === col("r_regionkey"))
              .select(col("n_nationkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"))
        val sup = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")
              .select(col("n_nationkey").as("snk"), col("n_name"))),
            col("s_nationkey") === col("snk"))
          .select(col("s_suppkey"), col("n_name"))
        t(s, d, "lineitem")
          .join(broadcast(t(s, d, "part").filter(col("p_type") === "ECONOMY")
            .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
          .join(t(s, d, "orders")
              .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
              .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg((dsum(when(col("n_name") === "NATION_2", vol).otherwise(lit(0.0)), 4) /
            dsum(vol, 4)).as("mkt_share"))
          .orderBy(col("o_year"))
      },
      Some("""SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             |  CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_2'
             |        THEN l_extendedprice*(1-l_discount) ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE)
             |  / CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             |    AS mkt_share
             |FROM lineitem l
             |JOIN part p ON p.p_partkey = l.l_partkey
             |JOIN orders o ON o.o_orderkey = l.l_orderkey
             |JOIN customer c ON c.c_custkey = o.o_custkey
             |JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
             |JOIN region r ON n1.n_regionkey = r.r_regionkey
             |JOIN supplier s ON s.s_suppkey = l.l_suppkey
             |JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
             |WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
             |  AND o_orderdate >= TIMESTAMP '1995-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY o_year
             |ORDER BY o_year""".stripMargin)),

    QDef("q134_tpch_q9",
      // TPC-H Q9 (product type profit): every 'red'-named part's profit
      // by supplier nation and order year. Adapted (no partsupp):
      // supply cost = 0.6 × p_retailprice per unit, carried FROM the
      // broadcast part side so the profit expression is computable
      // row-local after the joins — the defining shape (a substring
      // part filter driving a 4-table join into a two-key rollup)
      // is unchanged. The 100 TB plan: part (name-filtered, ~13%)
      // and supplier⋈nation broadcast; the one big shuffle is
      // lineitem⋈orders on orderkey; profit accumulates decimal-exact
      // in one pass. Determinism: profit is multiply/subtract on
      // identical operands both engines, then dsum.
      (s, d) => {
        val pts = t(s, d, "part").filter(col("p_name").contains("red"))
          .select(col("p_partkey"), col("p_retailprice"))
        val sup = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")
              .select(col("n_nationkey").as("snk"), col("n_name").as("nation"))),
            col("s_nationkey") === col("snk"))
          .select(col("s_suppkey"), col("nation"))
        t(s, d, "lineitem")
          .join(broadcast(pts), col("l_partkey") === col("p_partkey"))
          .join(t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
            lit(0.6) * col("p_retailprice") * col("l_quantity"), 4).as("sum_profit"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some("""SELECT n_name AS nation,
             |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             |  CAST(sum(CAST(l_extendedprice*(1-l_discount)
             |    - 0.6*p_retailprice*l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
             |FROM lineitem l
             |JOIN part p ON p.p_partkey = l.l_partkey
             |JOIN orders o ON o.o_orderkey = l.l_orderkey
             |JOIN supplier s ON s.s_suppkey = l.l_suppkey
             |JOIN nation n ON s.s_nationkey = n.n_nationkey
             |WHERE p_name LIKE '%red%'
             |GROUP BY nation, o_year
             |ORDER BY nation, o_year DESC""".stripMargin)),

    QDef("q135_tpch_q11",
      // TPC-H Q11 (important stock identification): per-part value held
      // by one region's suppliers, keeping parts whose value exceeds a
      // FRACTION OF THE GLOBAL TOTAL — the scalar-subquery-in-HAVING
      // shape. Adapted (no partsupp): value = region-supplier lineitem
      // extendedprice per part. The decorrelation: the global total is
      // ONE 1-row aggregate over the same restricted rows, broadcast
      // cross-joined as the threshold — computed once, not per group
      // (the textbook form re-evaluates the subquery per HAVING row;
      // the oracle keeps that form, proving the rewrite). Supplier
      // membership is a broadcast left-semi so the big lineitem scan
      // never shuffles before its per-part aggregation. Determinism:
      // both sums decimal-exact; threshold = same double × 0.0001 both
      // engines; value-desc ties broken by unique p_partkey.
      (s, d) => {
        val regionSup = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")
              .join(broadcast(t(s, d, "region").filter(col("r_name") === "AMERICA")),
                col("n_regionkey") === col("r_regionkey"))
              .select(col("n_nationkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val lv = t(s, d, "lineitem")
          .join(broadcast(regionSup), col("l_suppkey") === col("s_suppkey"), "left_semi")
          .select(col("l_partkey"), col("l_extendedprice"))
        val threshold = lv.agg(
          (dsum(col("l_extendedprice"), 2) * lit(0.0001)).as("threshold"))
        lv.groupBy(col("l_partkey").as("p_partkey"))
          .agg(dsum(col("l_extendedprice"), 2).as("stock_value"))
          .crossJoin(broadcast(threshold))
          .filter(col("stock_value") > col("threshold"))
          .select(col("p_partkey"), col("stock_value"))
          .orderBy(col("stock_value").desc, col("p_partkey"))
      },
      Some("""SELECT l_partkey AS p_partkey,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS stock_value
             |FROM lineitem l
             |JOIN supplier s ON s.s_suppkey = l.l_suppkey
             |JOIN nation n ON s.s_nationkey = n.n_nationkey
             |JOIN region r ON n.n_regionkey = r.r_regionkey
             |WHERE r.r_name = 'AMERICA'
             |GROUP BY l_partkey
             |HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) > (
             |  SELECT CAST(sum(CAST(l2.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 0.0001
             |  FROM lineitem l2
             |  JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
             |  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
             |  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
             |  WHERE r2.r_name = 'AMERICA')
             |ORDER BY stock_value DESC, p_partkey""".stripMargin)),

    QDef("q136_tpch_q12",
      // TPC-H Q12 (shipping modes and order priority): late lineitems
      // classified by order priority. Adapted (no l_shipmode /
      // commitdate / receiptdate): "mode" = l_linestatus, "late" =
      // shipped ≥60 days after the order date — which preserves the
      // query's defining trap: the lateness predicate COMPARES COLUMNS
      // ACROSS THE JOIN (l_shipdate vs o_orderdate), so it cannot be
      // pushed to either scan and must run as a post-join filter, while
      // the shipdate WINDOW does push down. Both priority classes count
      // in one aggregation pass via conditional sums (never two scans).
      // Determinism: integer counts; unique group key orders output.
      (s, d) => {
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(t(s, d, "orders")
              .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy(col("l_linestatus").as("shipmode"))
          .agg(sum(when(hi, 1L).otherwise(0L)).cast("long").as("high_line_count"),
            sum(when(hi, 0L).otherwise(1L)).cast("long").as("low_line_count"))
          .orderBy(col("shipmode"))
      },
      Some("""SELECT l_linestatus AS shipmode,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
             |FROM lineitem l
             |JOIN orders o ON o.o_orderkey = l.l_orderkey
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-01-01'
             |  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
             |GROUP BY shipmode
             |ORDER BY shipmode""".stripMargin)),

    QDef("q137_tpch_q14",
      // TPC-H Q14 (promotion effect): the percentage-of-total ratio over
      // one shipping month — 100 × promo revenue / total revenue, where
      // 'promo' is a part-type predicate resolved through the broadcast
      // part dimension. One month of a 7-year shipdate range means
      // ~98.8% of row groups prune on stats BEFORE the join; the
      // conditional numerator and the denominator accumulate
      // decimal-exact in the SAME aggregation (one pass, one 1-row
      // result, no second scan). Determinism: both sums decimal-exact
      // doubles; the ×100 and the division are identical IEEE ops.
      (s, d) => {
        val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
          .join(broadcast(t(s, d, "part").select(col("p_partkey"), col("p_type"))),
            col("l_partkey") === col("p_partkey"))
          .agg((lit(100.0) *
            dsum(when(col("p_type") === "PROMO", vol).otherwise(lit(0.0)), 4) /
            dsum(vol, 4)).as("promo_revenue"))
      },
      Some("""SELECT 100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
             |    THEN l_extendedprice*(1-l_discount) ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE)
             |  / CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             |    AS promo_revenue
             |FROM lineitem l
             |JOIN part p ON p.p_partkey = l.l_partkey
             |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
             |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin)),

    QDef("q138_tpch_q16",
      // TPC-H Q16 (parts/supplier relationship): COUNT(DISTINCT supplier)
      // per (brand, type, size) bucket, EXCLUDING a NOT-IN supplier set —
      // the shape where a wrong NOT-IN translation (null-blind, or a
      // join that duplicates) silently corrupts the distinct counts.
      // Adapted (no partsupp): the part-supplier relation is the
      // distinct (l_partkey, l_suppkey) pairs of lineitem; the excluded
      // set is suppliers in arrears (s_acctbal < 0 — the schema's stand-
      // in for the comment-pattern filter). The 100 TB plan: the
      // attribute-filtered part side and the tiny exclusion set both
      // broadcast (NOT IN on a non-null key = LEFT ANTI); count-distinct
      // runs as Spark's two-phase expand/partial — the (pair-distinct +
      // count-distinct) work shares one shuffle on the group key.
      // Determinism: integer counts; count-desc ties broken by the full
      // unique (brand, type, size) key.
      (s, d) => {
        val pts = t(s, d, "part")
          .filter(col("p_brand") =!= "Brand#21" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
        val arrears = t(s, d, "supplier").filter(col("s_acctbal") < 0)
          .select(col("s_suppkey"))
        t(s, d, "lineitem").select(col("l_partkey"), col("l_suppkey"))
          .join(broadcast(pts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(arrears), col("l_suppkey") === col("s_suppkey"), "left_anti")
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).cast("long").as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
             |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
             |FROM lineitem l
             |JOIN part p ON p.p_partkey = l.l_partkey
             |WHERE p_brand <> 'Brand#21' AND p_type <> 'PROMO'
             |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
             |  AND l_suppkey NOT IN (
             |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             |GROUP BY p_brand, p_type, p_size
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin))
  )

  // ---------------------------------------------------------------------------
  // Incremental retrieval-index admission: the persisted BM25/posting store
  // that grows per crawl batch (InvertedIndex.appendBatch) — closing the
  // admission family (spans, MinHash, components, sketches, heavy hitters,
  // vectors) on the retrieval side.
  // ---------------------------------------------------------------------------

  private val retrievalAdmission = Seq(
    QDef("q139_index_admission",
      // The corpus is admitted in TWO crawl batches (80/20 doc_id split)
      // into the persisted index store — each admission is one
      // tokenize-and-reduce pass over ITS batch only (posting buckets
      // with term frequencies, doc lengths, a 1-row additive stats
      // record, all under batch_id=N overwrite dirs; history never
      // rescanned or rewritten). The gate: BM25 top-15 SEARCHED FROM THE
      // STORE must equal the textbook one-shot corpus-wide BM25 the
      // ORACLE states (q68's form verbatim) — df/N/avgdl assembled from
      // per-batch index rows have to be EXACTLY the whole-corpus values,
      // and per-term weights still sum in fixed written order, so the
      // round-6 scores match bit for bit. At 100 TB the search reads
      // only index rows (bounded posting buckets for 4 terms, the
      // doc-length table, one stats row per batch) — the raw text is
      // touched once per batch, at admission, ever.
      (s, d) => {
        val dir = scratchDir("q139") + "/index"
        val docs = docTokens(s, d)
        InvertedIndex.appendBatch(docs.filter(col("doc_id") % 10 < 8),
          "doc_id", "tk", bucketSize = 64, batchId = 0L, path = dir)
        InvertedIndex.appendBatch(docs.filter(col("doc_id") % 10 >= 8),
          "doc_id", "tk", bucketSize = 64, batchId = 1L, path = dir)
        InvertedIndex.bm25SearchStore(s, dir, bm25Terms, 15)
      },
      Some(s"""${tokCte()}${bm25Ctes("tok")}
              |SELECT doc_id,
              |  ${bm25Score()} AS bm25
              |FROM p ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)),

    QDef("q142_index_lookup_store",
      // The LOOKUP surface of the incremental index store (q139 gates the
      // BM25 surface): after two batch admissions, storeLookup must
      // reassemble each term's globally sorted posting list — batches
      // SHARE (term, bucket) cells under the doc_id-modulus split, so the
      // cross-batch cell merge (flatten + bounded re-sort) actually runs,
      // then buckets concatenate in order exactly like the q81 one-shot
      // lookup. The oracle states the whole-corpus posting lists in
      // closed form (q76's shape); emitted comma-joined for the driver's
      // canonicalizer. At 100 TB the read touches only the queried
      // terms' bucket rows across batch directories — never raw text.
      (s, d) => {
        val dir = scratchDir("q142") + "/index"
        val docs = docTokens(s, d)
        appendDocs(docs.filter(col("doc_id") % 10 < 8), 0L, dir)
        appendDocs(docs.filter(col("doc_id") % 10 >= 8), 1L, dir)
        postingsFrame(InvertedIndex.storeLookup(s, dir, bm25Terms))
      },
      Some(postingsOracle(tokCte(), bm25Terms)))
  )

  // ---------------------------------------------------------------------------
  // Snapshot versioning: time travel + retention over the CDC store's
  // immutable v<N> history (EventStreams.cdcSnapshotAt / vacuumCdc).
  // ---------------------------------------------------------------------------

  private val snapshotOps = Seq(
    QDef("q140_time_travel",
      // TIME TRAVEL + RETENTION over the versioned CDC snapshot store:
      // three versions are published batch-at-a-time (v0 init; v1
      // applies updates + inserts + deletes; v2 applies replacing
      // updates + deletes of earlier inserts — all seq-guarded through
      // Merge.cdcApply), then each HISTORICAL version is read back
      // as-of (cdcSnapshotAt) and verified against the independently
      // recomputed closed form of that version's state (bidirectional
      // anti-join emptiness, captured eagerly BEFORE vacuum). vacuumCdc
      // (keepLast=2) then drops exactly v0: the row-level gate is that
      // each version's (n_keys, total_bal) — computed FROM the as-of
      // reads — matches the oracle's per-version formulas, v0 reports
      // retained=false (its as-of read now throws the retention error,
      // caught), and v1/v2 report retained=true with their post-vacuum
      // reads still serving. At 100 TB each version is a full snapshot
      // directory, so the retention window is the storage dial; an
      // as-of read costs the same as a current read (one v<N> scan) —
      // never a log replay.
      (s, d) => {
        import s.implicits._
        val dir = scratchDir("q140") + "/cdc"
        val cust = t(s, d, "customer")
          .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
        EventStreams.initCdcState(
          cust.filter(col("key") % 4 === 0).withColumn("seq", lit(0L)), dir)
        val b1 = cust.filter(col("key") % 8 === 0)
          .select(col("key"), (col("bal") + 100).as("bal"),
            lit(1L).as("seq"), lit("U").as("op"))
          .unionByName(cust.filter(col("key") % 4 === 1)
            .select(col("key"), col("bal"), lit(1L).as("seq"), lit("I").as("op")))
          .unionByName(cust.filter(col("key") % 8 === 4)
            .select(col("key"), col("bal"), lit(1L).as("seq"), lit("D").as("op")))
        EventStreams.publishCdcBatch(s, dir, b1, Seq("key"), "seq", "op")
        val b2 = cust.filter(col("key") % 8 === 0)
          .select(col("key"), (col("bal") + 300).as("bal"),
            lit(2L).as("seq"), lit("U").as("op"))
          .unionByName(cust.filter(col("key") % 8 === 1)
            .select(col("key"), col("bal"), lit(2L).as("seq"), lit("D").as("op")))
        EventStreams.publishCdcBatch(s, dir, b2, Seq("key"), "seq", "op")
        // closed-form expected state per version, recomputed from source
        def expected(v: Long): DataFrame = v match {
          case 0L => cust.filter(col("key") % 4 === 0)
          case 1L => cust.filter(col("key") % 8 === 0 || col("key") % 4 === 1)
            .select(col("key"), when(col("key") % 8 === 0, col("bal") + 100)
              .otherwise(col("bal")).as("bal"))
          case _ => cust.filter(col("key") % 8 === 0 ||
              (col("key") % 4 === 1 && col("key") % 8 =!= 1))
            .select(col("key"), when(col("key") % 8 === 0, col("bal") + 300)
              .otherwise(col("bal")).as("bal"))
        }
        // eager pre-vacuum capture: (version, n, decimal-exact sum, asof ok)
        val preVacuum = (0L to 2L).map { v =>
          val asof = EventStreams.cdcSnapshotAt(s, dir, v).select("key", "bal")
          val exp = expected(v).select("key", "bal")
          val ok = Checks.multisetEq(asof, exp)
          val st = asof.agg(count(lit(1)).cast("long"),
            sum(col("bal").cast(DecimalType(18, 2))).cast("double")).head()
          (v, st.getLong(0), st.getDouble(1), ok)
        }
        val dropped = EventStreams.vacuumCdc(s, dir, keepLast = 2)
        require(dropped == Seq(0L), s"vacuum dropped $dropped, expected v0 only")
        def retained(v: Long): Boolean =
          try { EventStreams.cdcSnapshotAt(s, dir, v).count(); true }
          catch { case _: IllegalArgumentException => false }
        preVacuum.map { case (v, n, sumBal, ok) =>
          (v, n, sumBal, ok, retained(v))
        }.toDF("version", "n_keys", "total_bal", "asof_read_ok",
          "retained_after_vacuum")
          .orderBy(col("version"))
      },
      Some("""SELECT CAST(0 AS BIGINT) AS version,
             |  CAST(count(*) AS BIGINT) AS n_keys,
             |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
             |  TRUE AS asof_read_ok, FALSE AS retained_after_vacuum
             |FROM customer WHERE c_custkey % 4 = 0
             |UNION ALL
             |SELECT 1, CAST(count(*) AS BIGINT),
             |  CAST(sum(CAST(CASE WHEN c_custkey % 8 = 0 THEN c_acctbal + 100
             |    ELSE c_acctbal END AS DECIMAL(18,2))) AS DOUBLE),
             |  TRUE, TRUE
             |FROM customer WHERE c_custkey % 8 = 0 OR c_custkey % 4 = 1
             |UNION ALL
             |SELECT 2, CAST(count(*) AS BIGINT),
             |  CAST(sum(CAST(CASE WHEN c_custkey % 8 = 0 THEN c_acctbal + 300
             |    ELSE c_acctbal END AS DECIMAL(18,2))) AS DOUBLE),
             |  TRUE, TRUE
             |FROM customer
             |WHERE c_custkey % 8 = 0 OR (c_custkey % 4 = 1 AND c_custkey % 8 <> 1)
             |ORDER BY version""".stripMargin)),

    QDef("q141_snapshot_diff",
      // SNAPSHOT DIFF across the same 3-version store as q140: cdcDiff
      // (v0 -> v2) must reconstruct the minimal change feed — updates
      // carry v2's payload (bal+300, seq=2), inserts the admitted
      // payload that SURVIVED to v2 (the %8==1 keys inserted at v1 and
      // deleted at v2 are correctly ABSENT: a diff of states, not a
      // replay of the log), deletes carry the deleted v0 row (seq=0).
      // The oracle states each class in closed form over customer. The
      // plan is one full-outer hash join of two as-of scans comparing
      // payload structs — version checkpoints make "what changed"
      // answerable without storing any per-version change log. The
      // round-trip property (applyChanges(v0, diff) == v2 row-for-row)
      // is spec-gated (StreamingSpec).
      (s, d) => {
        val dir = scratchDir("q141") + "/cdc"
        val cust = t(s, d, "customer")
          .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
        EventStreams.initCdcState(
          cust.filter(col("key") % 4 === 0).withColumn("seq", lit(0L)), dir)
        val b1 = cust.filter(col("key") % 8 === 0)
          .select(col("key"), (col("bal") + 100).as("bal"),
            lit(1L).as("seq"), lit("U").as("op"))
          .unionByName(cust.filter(col("key") % 4 === 1)
            .select(col("key"), col("bal"), lit(1L).as("seq"), lit("I").as("op")))
          .unionByName(cust.filter(col("key") % 8 === 4)
            .select(col("key"), col("bal"), lit(1L).as("seq"), lit("D").as("op")))
        EventStreams.publishCdcBatch(s, dir, b1, Seq("key"), "seq", "op")
        val b2 = cust.filter(col("key") % 8 === 0)
          .select(col("key"), (col("bal") + 300).as("bal"),
            lit(2L).as("seq"), lit("U").as("op"))
          .unionByName(cust.filter(col("key") % 8 === 1)
            .select(col("key"), col("bal"), lit(2L).as("seq"), lit("D").as("op")))
        EventStreams.publishCdcBatch(s, dir, b2, Seq("key"), "seq", "op")
        EventStreams.cdcDiff(s, dir, 0L, 2L, Seq("key"))
          .select(col("key"), col("bal"), col("seq"), col("op"))
          .orderBy(col("key"))
      },
      Some("""SELECT c_custkey AS key, c_acctbal + 300 AS bal,
             |  CAST(2 AS BIGINT) AS seq, 'U' AS op
             |FROM customer WHERE c_custkey % 8 = 0
             |UNION ALL
             |SELECT c_custkey, c_acctbal, CAST(1 AS BIGINT), 'I'
             |FROM customer WHERE c_custkey % 4 = 1 AND c_custkey % 8 <> 1
             |UNION ALL
             |SELECT c_custkey, c_acctbal, CAST(0 AS BIGINT), 'D'
             |FROM customer WHERE c_custkey % 8 = 4
             |ORDER BY key""".stripMargin))
  )

  // ---------------------------------------------------------------------------
  // Store lifecycle completion: index compaction (q143), vector-generation
  // vacuum (q144), positional phrase search (q145) — the round-10 closures of
  // the admission-store family's unbounded-degradation / retention /
  // bag-of-words gaps.
  // ---------------------------------------------------------------------------

  private val phrase = Seq("window", "join")

  /** Shared closed form for the q201/q203 mutated corpus: U (%10==0
    * gains two tokens, %20==0 replaced again with ONE), I (shifted-id
    * re-crawls of %10==2), D (%10==7) — the posting lists over the
    * final state (q142's shape).
    */
  private val cdcSyncLookupOracle =
    Some(syncPostingsOracle(
      """|  SELECT doc_id, CASE
         |    WHEN doc_id % 20 = 0 THEN text || ' graftsync'
         |    WHEN doc_id % 10 = 0 THEN text || ' graftsync graftsync'
         |    ELSE text END AS text
         |  FROM documents WHERE doc_id % 10 <> 7
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, 'graftsync ' || text AS text
         |  FROM documents WHERE doc_id % 10 = 2""".stripMargin))

  private val storeLifecycle = Seq(
    QDef("q143_index_compaction",
      // The ADMISSION-STORE COMPACTOR: the one unbounded-degradation
      // path left after round 9 — every batch_id=N fragment store grows
      // a fragment per crawl batch forever, and storeLookup's
      // cross-batch cell merge grows with it. Three batches are
      // admitted into the generational index store, the full retrieval
      // surface is captured EAGERLY (term lookup + BM25 top-15), then
      // compactStore merges all fragments into ONE batch_id=<hwm>
      // fragment under gen=2 behind an atomic _CURRENT swap (the
      // VectorStore.refit discipline on the retrieval index). Gates:
      // post-compaction lookup AND BM25 equal the pre-compaction
      // capture bit for bit (the cell merge run once at compaction is
      // the same merge every read used to run); fragment count 3 -> 1;
      // a retried compaction is a CAS no-op (no gen=3); and admissions
      // keep APPENDING ON TOP — a fourth batch admitted after the swap
      // joins the compacted fragment, and the final search equals the
      // one-shot whole-corpus BM25 the oracle states (q139's closed
      // form). At 100 TB compaction is ONE shuffle of index rows keyed
      // on (term, bucket) — reduce groups bounded by bucketSize x
      // batches, the raw corpus never touched — and it bounds every
      // future read at (1 compacted fragment + batches since).
      (s, d) => {
        val root = scratchDir("q143") + "/istore"
        val docs = docTokens(s, d)
        indexStore(s, root, docs.filter(col("doc_id") % 10 < 6),
          docs.filter(col("doc_id") % 10 >= 6 && col("doc_id") % 10 < 8),
          docs.filter(col("doc_id") % 10 === 8))
        def surfaces() = (
          postingsFrame(InvertedIndex.lookupCurrent(s, root, bm25Terms)).collect().toSeq,
          bm25Rows(InvertedIndex.bm25SearchCurrent(s, root, bm25Terms, 15)))
        val (c, _) = compactionCycle(root, InvertedIndex.fragmentCount(s, root),
            surfaces())(InvertedIndex.compactStore(s, root, expectedGen = 1L)) {
          // admissions keep appending ON TOP of the compacted fragment
          admitDocs(s, docs.filter(col("doc_id") % 10 === 9), 3L, root)
        }
        InvertedIndex.bm25SearchCurrent(s, root, bm25Terms, 15)
          .withGates(c.gates :+ ("pre_eq_post" -> c.readEq): _*)
          .orderBy(col("bm25").desc, col("doc_id"))
      },
      Some(s"""${tokCte()}${bm25Ctes("tok")}
              |SELECT doc_id,
              |  ${bm25Score()} AS bm25,
              |  CAST(3 AS BIGINT) AS frags_before, CAST(1 AS BIGINT) AS frags_compacted,
              |  CAST(2 AS BIGINT) AS frags_after_admit,
              |  TRUE AS retry_noop, TRUE AS pre_eq_post
              |FROM p ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)),

    QDef("q144_vector_vacuum",
      // GENERATION RETENTION for the vector store — the catalog twin of
      // q140's CDC vacuum gate (r9 left it spec-only): after a full
      // refit publishes gen 2, vacuumGenerations(keepLast=1) must drop
      // EXACTLY gen 1 (tombstone-renamed before deletion, so a racing
      // reader can never see a partial generation that still resolves);
      // the current generation's serving is BYTE-UNAFFECTED — the
      // post-vacuum search equals the eagerly captured pre-vacuum
      // answer including the exact cosine —; and a read of the vacuumed
      // generation fails LOUDLY (loadGenIndex's missing-index error,
      // not silently empty results). At 100 TB superseded generations
      // are the store's dominant residual cost after a refit lands;
      // this gate is what makes dropping them safe to automate.
      (s, d) => {
        val root = scratchDir("q144") + "/vstore"
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 < 8)
        val late = emb.filter(col("vec_id") % 10 >= 8)
        val q = emb.filter(col("vec_id") < 10)
        vectorStore(s, root, fitIvfPq(base), base, late)
        refitIvfPq(s, root, 1L)
        def served() = searchRows(s, root, q)
        val pre = served()
        val dropped = VectorStore.vacuumGenerations(root, keepLast = 1)
        val droppedGen1 = dropped == Seq(1L) &&
          VectorStore.listGenerations(root) == Seq(2L)
        val postEqPre = served() == pre
        val gen1Fails =
          try { VectorStore.loadGenIndex(s, root, 1L); false }
          catch { case _: Exception => true }
        gateFrame(s, pre, "post_eq_pre" -> postEqPre,
          "dropped_gen1_only" -> droppedGen1, "gen1_read_fails" -> gen1Fails,
          "current_gen" -> VectorStore.currentGen(root))
      },
      Some(gateOracle(
        "TRUE AS post_eq_pre, TRUE AS dropped_gen1_only",
        "TRUE AS gen1_read_fails, CAST(2 AS BIGINT) AS current_gen"))),

    QDef("q145_phrase_search",
      // EXACT-PHRASE retrieval over POSITIONAL postings — the index
      // stores (doc_id, tf, dl, positions) per posting entry as of
      // round 10, and a phrase query is the classic positional
      // intersection: term i's position list shifted by -i, intersected
      // across slots, yields exactly the phrase START positions. Two
      // batch admissions split every term's posting cells, so the
      // search proves positions survive the batched store (a doc's
      // entry lives in exactly ONE batch — the upstream exact-dedup
      // contract — so no cross-batch position merge exists to get
      // wrong). The oracle recomputes adjacency in closed form over the
      // raw text (DuckDB list lambdas). At 100 TB each phrase term
      // contributes only its df-sized candidate list; the intersection
      // joins meet on doc_id and the most selective term bounds the
      // output — index rows only, never the corpus.
      (s, d) => {
        val dir = scratchDir("q145") + "/index"
        val docs = docTokens(s, d)
        appendDocs(docs.filter(col("doc_id") % 10 < 8), 0L, dir)
        appendDocs(docs.filter(col("doc_id") % 10 >= 8), 1L, dir)
        InvertedIndex.phraseSearchStore(s, dir, phrase)
      },
      Some(s"""${tokCte()}
              |SELECT doc_id,
              |  CAST(len(list_filter(range(1, len(tk)),
              |    i -> ${phrase.zipWithIndex.map { case (w, i) =>
                     s"tk[i + $i] = '$w'" }.mkString(" AND ")})) AS BIGINT)
              |    AS n_occurrences
              |FROM tok
              |WHERE len(list_filter(range(1, len(tk)),
              |  i -> ${phrase.zipWithIndex.map { case (w, i) =>
                   s"tk[i + $i] = '$w'" }.mkString(" AND ")})) > 0
              |ORDER BY doc_id""".stripMargin)),

    QDef("q147_phrase_bm25",
      // PHRASE-CONSTRAINED BM25 ranking — the standard two-stage phrase
      // query composed from the two store surfaces: the positional
      // intersection (q145) decides MEMBERSHIP, the BM25 weight of the
      // phrase's terms (q139's fixed-order summation, bit-identical to
      // the unconstrained search by construction) RANKS the members.
      // Admitted in two batches as everywhere. The oracle recomputes
      // both stages in closed form over the raw text and joins them —
      // proving the index-only composition loses nothing. At 100 TB
      // both join sides are the phrase terms' candidate lists (the
      // intersection side is the smaller and drives); the corpus and
      // doclens appear nowhere.
      (s, d) => {
        val dir = scratchDir("q147") + "/index"
        val docs = docTokens(s, d)
        appendDocs(docs.filter(col("doc_id") % 10 < 8), 0L, dir)
        appendDocs(docs.filter(col("doc_id") % 10 >= 8), 1L, dir)
        InvertedIndex.phraseBm25SearchStore(s, dir, phrase, 15)
      },
      Some(s"""${tokCte()}${bm25Ctes("tok", phrase.distinct)}, scores AS (
              |  SELECT doc_id,
              |    ${bm25Score(phrase.distinct)} AS bm25
              |  FROM p
              |), ph AS (
              |  SELECT doc_id,
              |    CAST(len(list_filter(range(1, len(tk)),
              |      i -> ${phrase.zipWithIndex.map { case (wd, i) =>
                       s"tk[i + $i] = '$wd'" }.mkString(" AND ")})) AS BIGINT)
              |      AS n_occurrences
              |  FROM tok
              |  WHERE len(list_filter(range(1, len(tk)),
              |    i -> ${phrase.zipWithIndex.map { case (wd, i) =>
                     s"tk[i + $i] = '$wd'" }.mkString(" AND ")})) > 0
              |)
              |SELECT ph.doc_id, ph.n_occurrences, s2.bm25
              |FROM ph JOIN scores s2 ON s2.doc_id = ph.doc_id
              |ORDER BY s2.bm25 DESC, ph.doc_id LIMIT 15""".stripMargin)),

    QDef("q148_sketch_compaction",
      // COMPACTION GENERALIZED to the sketch store (the GenStore
      // discipline proven on postings by q143, applied to the second
      // fragmenting admission store): three event batches admit per-key
      // HLL fragments into the generational store, the full estimate
      // surface is captured eagerly, then compactStore unions each
      // key's fragments into ONE pre-merged sketch row behind the
      // atomic pointer swap. The defining gate is EST_IDENTICAL: HLL
      // union is register-max — associative and commutative — so the
      // compacted single-sketch read path must reproduce the fragmented
      // read path's estimates BIT FOR BIT (not within-epsilon: the same
      // registers reach the same estimator). Plus the lifecycle gates
      // (fragments 3 -> 1, CAS retry no-op, post-compaction admission
      // appends on top) and q83's accuracy gates against the one-pass
      // whole-corpus sketch (1%) and the exact distinct count (5%). At
      // 100 TB compaction here is one map-side-combined aggregation of
      // KB-sized sketch rows; the raw events are never rescanned.
      (s, d) => {
        val root = scratchDir("q148") + "/sstore"
        val ev = t(s, d, "events")
        sketchStore(s, root, (0L to 2L).map(b => ev.filter(pmod(col("event_id"), lit(4)) === b)): _*)
        val (c, _) = compactionCycle(root, SketchStore.fragmentCount(s, root),
            sketchEstimates(s, root))(
            SketchStore.compactStore(s, root, expectedGen = 1L, Seq("event_type"))) {
          SketchStore.admitBatch(s, ev.filter(pmod(col("event_id"), lit(4)) === 3),
            Seq("event_type"), "user_id", 3L, root)
        }
        val whole = ev.groupBy(col("event_type"))
          .agg(count_distinct(col("user_id")).cast("long").as("n_exact"),
            hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
              .as("whole_est"))
        SketchStore.estimatesCurrent(s, root, Seq("event_type"))
          .join(whole, "event_type")
          .select(Seq(col("event_type"), col("n_exact")) ++
            (c.gates :+ ("est_identical" -> c.readEq)).map { case (n, v) => lit(v).as(n) } ++ Seq(
            (abs(col("est") - col("whole_est")) <= col("whole_est") * 0.01)
              .as("merged_tracks_whole"),
            (abs(col("est") - col("n_exact")).cast("double") <=
              col("n_exact") * 0.05).as("within_5pct")): _*)
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
             |  CAST(3 AS BIGINT) AS frags_before,
             |  CAST(1 AS BIGINT) AS frags_compacted,
             |  CAST(2 AS BIGINT) AS frags_after_admit,
             |  TRUE AS retry_noop, TRUE AS est_identical,
             |  TRUE AS merged_tracks_whole, TRUE AS within_5pct
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QDef("q149_heavyhitter_compaction",
      // COMPACTION of the FREQUENCY store (the third fragmenting
      // admission store, after postings q143 and sketches q148): the
      // q92 planted-skew stream admits in three batches, compactStore
      // materializes the Misra-Gries merge as one sealed m-entry
      // fragment behind the pointer, a fourth batch appends on top.
      // Unlike HLL, the MG prune is LOSSY BY DESIGN, so the gate is not
      // bit equality but the mergeable-summaries CONTRACT over any
      // merge tree (Agarwal et al., PODS 2012) — asserted twice: the
      // in-query prefix gate (post-compaction, pre-append: every
      // guaranteed-heavy key of the 3-batch prefix present, est <=
      // exact <= est + N_prefix/(m+1), collected eagerly into a literal
      // boolean) and the oracle-stated final gate (same bounds over the
      // FULL stream after the post-compaction admission, q92's closed
      // form). Lifecycle gates as q143/q148: fragments 3 -> 1 -> 2, CAS
      // retry no-op, sealed replays refused (spec). At 100 TB the
      // compaction input is <= m rows per fragment — KBs however large
      // the stream that produced them was.
      (s, d) => {
        val root = scratchDir("q149") + "/hhstore"
        val m = 8
        val keyed = t(s, d, "documents").select(col("doc_id"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("heavy_"), pmod(col("doc_id"), lit(2)).cast("string")))
            .otherwise(concat(lit("tail_"), col("doc_id").cast("string")))
            .as("k"))
        HeavyHitters.initStore(root)
        (0L to 2L).foreach { b =>
          HeavyHitters.admitBatch(s, keyed.filter(pmod(col("doc_id"), lit(4)) === b),
            "k", m, b, root)
        }
        import s.implicits._
        val (c, prefixOk) = compactionCycle(root, HeavyHitters.fragmentCount(s, root), ())(
            HeavyHitters.compactStore(s, root, expectedGen = 1L, m)) {
          // prefix gate: the compacted summary still honors the MG
          // contract against the 3-batch prefix's exact counts — checked
          // DISTRIBUTIVELY (the exact histogram is corpus-keyed, so it
          // must never cross to the driver: the m-row summary broadcasts
          // onto it and only the 1-row min-verdict collects)
          val prefix = keyed.filter(pmod(col("doc_id"), lit(4)) < 3)
          val nPrefix = prefix.count()
          val prefixEsts = HeavyHitters.hittersCurrent(s, root, m).collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq
          val ok = prefix.groupBy(col("k"))
            .agg(count(lit(1)).cast("long").as("cnt"))
            .join(broadcast(prefixEsts.toDF("key", "est")),
              col("k") === col("key"), "left")
            .select(((col("cnt") * (m + 1) <= nPrefix || col("est").isNotNull) &&
              (col("est").isNull || (col("est") <= col("cnt") &&
                (col("cnt") - col("est")) * (m + 1) <= nPrefix))).as("ok"))
            .agg(coalesce(min(col("ok")), lit(true))).head.getBoolean(0)
          HeavyHitters.admitBatch(s, keyed.filter(pmod(col("doc_id"), lit(4)) === 3),
            "k", m, 3L, root)
          ok
        }
        // final gate over the FULL stream, q92's closed form
        val mg = HeavyHitters.hittersCurrent(s, root, m)
        val exact = keyed.groupBy(col("k"))
          .agg(count(lit(1)).cast("long").as("exact_cnt"))
        val n = keyed.agg(count(lit(1)).cast("long").as("n"))
        exact.crossJoin(n)
          .filter(col("exact_cnt") * (m + 1) > col("n"))
          .join(mg, col("k") === col("key"), "left")
          .select(col("k"), col("exact_cnt"),
            col("est").isNotNull.as("found"),
            (col("est") <= col("exact_cnt") &&
              (col("exact_cnt") - col("est")) * (m + 1) <= col("n")).as("bounds_ok"))
          .withGates(c.gates :+ ("prefix_contract_ok" -> prefixOk): _*)
          .orderBy(col("k"))
      },
      Some("""WITH keyed AS (
             |  SELECT CASE WHEN doc_id % 3 = 0
             |              THEN 'heavy_' || CAST(doc_id % 2 AS VARCHAR)
             |              ELSE 'tail_' || CAST(doc_id AS VARCHAR) END AS k
             |  FROM documents
             |), exact AS (
             |  SELECT k, CAST(count(*) AS BIGINT) AS exact_cnt FROM keyed GROUP BY k
             |), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keyed)
             |SELECT k, exact_cnt, TRUE AS found, TRUE AS bounds_ok,
             |  CAST(3 AS BIGINT) AS frags_before,
             |  CAST(1 AS BIGINT) AS frags_compacted,
             |  CAST(2 AS BIGINT) AS frags_after_admit,
             |  TRUE AS retry_noop, TRUE AS prefix_contract_ok
             |FROM exact, n WHERE exact_cnt * 9 > n
             |ORDER BY k""".stripMargin)),

    QDef("q150_vector_compaction",
      // COMPACTION of the CODED VECTOR store — the fourth and last
      // fragmenting admission store (postings q143, sketches q148,
      // frequencies q149), and the layout-only sibling of the refit
      // actuator (q128): four admitted batches collapse into ONE
      // cell-clustered fragment under gen=2 with the SAME index
      // artifact. Because the encoding is untouched, the defining gate
      // is ROW-IDENTICAL SERVING: the post-compaction search must equal
      // the eagerly captured fragmented-store answer including the
      // exact cosines, and the final store (compacted fragment + one
      // appended batch) must equal a from-scratch single-batch store of
      // the same corpus — encoding is a pure function of (vector,
      // index), so any batching/layout serves identically. Drift
      // semantics survive: the fit-time baseline stats row is copied
      // bit-for-bit and later batches merge into one exactly-weighted
      // row (3+1 rows -> baseline + merged + appended), so needsRefit
      // still reads fit-baseline vs latest-admitted. Lifecycle gates as
      // the family: fragments 4 -> 1 -> 2, CAS retry no-op, sealed
      // replays refused. At 100 TB this is what keeps a years-running
      // store's file count O(1) instead of O(crawl batches), and the
      // global cell-clustering upgrades In(cell) pushdown from
      // row-group skipping inside every batch file to whole-file
      // skipping across the store.
      (s, d) => {
        import s.implicits._
        val root = scratchDir("q150") + "/vstore"
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val fit = emb.filter(col("vec_id") % 5 === 0)
        val (c1, b1) = fitIvfPq(fit)
        def served() = searchRows(s, root, q)
        def frags() = VectorStore.migratedBatchIds(s, root,
          VectorStore.currentGen(root)).size.toLong
        def stats() = VectorStore.driftStats(s, root)
          .as[(Long, Long, Double, Double)].collect().toSeq
        // the from-scratch single-batch comparator needs only (c1, b1) and
        // writes its own directory — it overlaps the ENTIRE generational
        // lifecycle (Par, guide §2.6); encoding is pure, so nothing about
        // the interleaving can move a byte of either store
        def lifecycleSection() = {
          vectorStore(s, root, (c1, b1),
            (0L to 3L).map(b => emb.filter(col("vec_id") % 5 === b)): _*)
          // the fragmented store's drift inputs (read-only, like the
          // cycle's own read)
          val statsPre = stats()
          val refitPre = VectorStore.needsRefit(s, root)
          compactionCycle(root, frags(), served())(
              VectorStore.compactGen(s, root, expectedGen = 1L)) {
            val statsPost = stats()
            val baselineIdentical = statsPost.headOption == statsPre.headOption
            val statsMerged = statsPost.size == 2 &&
              statsPost.map(_._2).sum == statsPre.map(_._2).sum
            val refitUnchanged = VectorStore.needsRefit(s, root) == refitPre
            val sealedRefused = refuses("compact") {
              VectorStore.admit(s, root, emb.filter(col("vec_id") % 5 === 0),
                "vec_id", "embedding", 0L)
            }
            VectorStore.admit(s, root, emb.filter(col("vec_id") % 5 === 4),
              "vec_id", "embedding", 4L)
            (baselineIdentical, statsMerged, refitUnchanged, sealedRefused)
          }
        }
        def flatSection() = {
          // the whole corpus through a from-scratch single-batch store:
          // encoding is pure, so the generational path must serve equal
          val flat = scratchDir("q150") + "/flat"
          Similarity.appendCodedBatch(emb, "vec_id", "embedding", c1, b1, 0L, flat)
          Similarity.searchCodedStore(s, q, "vec_id", "embedding", 5,
              c1, b1, flat, nprobe = Nprobe, shortlistFactor = Shortlist)
            .collect().toSeq
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        }
        val ((c, (baselineIdentical, statsMerged, refitUnchanged, sealedRefused)),
          oneShot) = Par.both(lifecycleSection(), flatSection())
        val eqOneShot = served() == oneShot
        gateFrame(s, c.pre, Seq("post_eq_pre" -> c.readEq, "eq_one_shot" -> eqOneShot) ++
          c.gates ++ Seq("sealed_replay_refused" -> sealedRefused,
          "baseline_stat_identical" -> baselineIdentical,
          "stats_merged_weighted" -> statsMerged,
          "drift_signal_unchanged" -> refitUnchanged,
          "current_gen" -> VectorStore.currentGen(root)): _*)
      },
      Some(gateOracle(
        "TRUE AS post_eq_pre, TRUE AS eq_one_shot",
        "CAST(4 AS BIGINT) AS frags_before",
        "CAST(1 AS BIGINT) AS frags_compacted",
        "CAST(2 AS BIGINT) AS frags_after_admit",
        "TRUE AS retry_noop, TRUE AS sealed_replay_refused",
        "TRUE AS baseline_stat_identical, TRUE AS stats_merged_weighted",
        "TRUE AS drift_signal_unchanged, CAST(2 AS BIGINT) AS current_gen"))),

    QDef("q151_signature_compaction",
      // COMPACTION of the DEDUP SIGNATURE store — the GenStore family
      // (q143/q148/q149/q150) extended to the MinHash admission state,
      // where it is genuine DATA reduction, not just file-count
      // reduction: the store is a distinct (band, bucket) KEY SET, so
      // fragments across crawl batches overlap (a recloned doc writes
      // its keys every batch) and compaction's single cross-batch
      // distinct removes them. The defining gate is BIT-IDENTICAL
      // ADMISSION DECISIONS: a LEFT-SEMI probe is multiset-insensitive,
      // so the probe batch's (hit_bands, admit) rows pre-compaction,
      // post-compaction, and from the one-shot closed form (the
      // oracle, q105's portable-md5 key family) are all equal. Plus the
      // family lifecycle: fragments 3 -> 1 -> 2, CAS retry no-op,
      // sealed replays refused (a per-batch overwrite would drop the
      // other merged batches' keys). At 100 TB this is the store the
      // crawl admission loop probes EVERY batch — compaction keeps that
      // semi-join's build side at distinct-corpus size instead of
      // sum-of-batches size, forever.
      (s, d) => {
        val root = scratchDir("q151") + "/sigstore"
        val docs = t(s, d, "documents")
        val probe = docs.filter(col("doc_id") % 5 === 4)
        // ONE signature pass for every admit, probe, and replay attempt
        // (guide §1.2, the q165 pattern): all the store touches below
        // slice this checkpointed key set by doc id
        val sigKeys = signatureKeys(docs.select(col("doc_id"), col("text")))
        signatureStore(root, (0L to 2L).map(b => sigKeys.filter(col("id") % 5 === b)): _*)
        def decisions() = decisionRows(Dedup.admitKeysAgainstMinHashStoreGen(
          probe.select(col("doc_id").as("id")), sigKeys.filter(col("id") % 5 === 4), root))
        val (c, (crossBatchDedup, sealedRefused)) = compactionCycle(root,
            KeySetStore.fragmentCount(s, root), decisions())(
            KeySetStore.compactStore(s, root, expectedGen = 1L)) {
          // compaction dedups keys ACROSS batches: the compacted fragment
          // must hold exactly the distinct union, never more rows than
          // the fragments it merged
          val keyRowsFragmented = Tables.parquet(s, root + "/gen=1").count()
          val keyRowsCompacted = Tables.parquet(s, root + "/gen=2").count()
          val crossBatchDedup = keyRowsCompacted <= keyRowsFragmented &&
            keyRowsCompacted ==
              Tables.parquet(s, root + "/gen=1").drop("batch_id").distinct().count()
          val sealedRefused = refuses("compact") {
            Dedup.admitMinHashKeysBatch(sigKeys.filter(col("id") % 5 === 0),
              batchId = 0L, root = root)
          }
          Dedup.admitMinHashKeysBatch(sigKeys.filter(col("id") % 5 === 3),
            batchId = 3L, root = root)
          (crossBatchDedup, sealedRefused)
        }
        // the oracle-stated surface: the probe batch's decisions against
        // the FULL admitted history (batches 0-3), from the compacted
        // store + the appended fragment
        decisionFrame(probe.select(col("doc_id").as("id")),
            sigKeys.filter(col("id") % 5 === 4), root)
          .withGates(c.gates ++ Seq(
            "decisions_identical" -> (c.readEq && c.pre.nonEmpty),
            "cross_batch_dedup" -> crossBatchDedup,
            "sealed_replay_refused" -> sealedRefused): _*)
      },
      Some(s"""${tokCte()}${bandKeyCtes()}, store AS (
             |  SELECT DISTINCT band, bucket FROM bnd WHERE doc_id % 5 < 4
             |), hits AS (
             |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS hit_bands
             |  FROM bnd b JOIN store s ON b.band = s.band AND b.bucket = s.bucket
             |  WHERE b.doc_id % 5 = 4
             |  GROUP BY b.doc_id
             |)
             |SELECT d.doc_id,
             |  CAST(coalesce(h.hit_bands, 0) AS BIGINT) AS hit_bands,
             |  coalesce(h.hit_bands, 0) = 0 AS admit,
             |  CAST(3 AS BIGINT) AS frags_before,
             |  CAST(1 AS BIGINT) AS frags_compacted,
             |  CAST(2 AS BIGINT) AS frags_after_admit,
             |  TRUE AS retry_noop, TRUE AS decisions_identical,
             |  TRUE AS cross_batch_dedup, TRUE AS sealed_replay_refused
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d
             |LEFT JOIN hits h USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    QDef("q152_pipeline_manifest",
      // CROSS-STORE SNAPSHOT ISOLATION — the coordination layer the
      // store family was missing: the q146 hybrid retrieval reads TWO
      // generational stores (retrieval index + vector store) whose
      // pointers move independently under compaction (q143) and refit
      // (q128); a reader resolving each pointer separately can observe
      // a joint state no writer ever published. The manifest pins both
      // generations in ONE versioned, atomically-published file, and
      // every read resolves through it. Gates: (1) a reader pinned to
      // manifest v1 is BIT-IDENTICAL before and after BOTH stores
      // publish new generations (index compaction + vector refit) —
      // generation immutability makes the pin sufficient; (2) manifest
      // v2 (new pins) equals reads through the stores' own current
      // pointers, bit-for-bit; (3) publish is CAS (retry no-op);
      // (4) a vacuumed manifest version fails LOUDLY, never silently
      // re-resolves; (5) retainedPins is the store-vacuum reference
      // set: after the manifest vacuum drops v1, vacuuming BOTH stores'
      // gen-1 leaves the v2 read byte-identical. At 100 TB this is how
      // a fleet of query nodes sees index+vector refits land as one
      // atomic cutover with zero read downtime.
      (s, d) => {
        val root = scratchDir("q152")
        val iroot = root + "/istore"
        val vroot = root + "/vstore"
        val mroot = root + "/manifest"
        val docs = docTokens(s, d)
        val emb = t(s, d, "embeddings")
        // the two stores live in disjoint roots — builds overlap (Par, §2.6)
        Par.both(
          indexStore(s, iroot, docs.filter(col("doc_id") % 10 < 8),
            docs.filter(col("doc_id") % 10 >= 8)),
          vectorStore(s, vroot, fitIvfPq(emb.filter(col("vec_id") % 10 < 8)),
            emb.filter(col("vec_id") % 10 < 8), emb.filter(col("vec_id") % 10 >= 8)))
        Manifest.init(mroot, Map("index" -> 1L, "vectors" -> 1L))
        val q = emb.filter(col("vec_id") < 3)
        // the q146 hybrid, every store read resolved through ONE
        // manifest version (gen-scoped reads of immutable directories)
        def fuse(knn: DataFrame, bm: DataFrame): Seq[(Long, Long, Long)] = {
          val qids = knn.select(col("query_id")).distinct()
          knn.join(qids.crossJoin(bm), Seq("query_id", "doc_id"), "full_outer")
            .select(col("query_id"), col("doc_id"),
              (coalesce(lit(1.0) / (lit(60) + col("rk")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0))).as("rrf"))
            .withColumn("hrank", row_number()
              .over(Window.partitionBy(col("query_id"))
                .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
            .filter(col("hrank") <= 10)
            .select(col("query_id"), col("hrank"), col("doc_id"))
            .collect().toSeq
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
        }
        def hybridAt(version: Long): Seq[(Long, Long, Long)] = {
          val p = Manifest.pins(mroot, version)
          val knn = storeSearch(s, vroot, q, Some(p("vectors")), 10)
            .select(col("query_id"), col("neighbor_id").as("doc_id"),
              col("rank").as("rk"))
          val bm = InvertedIndex.bm25SearchStore(s,
              InvertedIndex.genDir(iroot, p("index")), bm25Terms, 20)
            .withColumn("rb", row_number()
              .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
            .select(col("doc_id"), col("rb"))
          fuse(knn, bm)
        }
        val r1 = hybridAt(1L)
        // the world moves: BOTH stores publish new generations
        // (independent stores — the compaction and the refit overlap)
        Par.both(
          InvertedIndex.compactStore(s, iroot, expectedGen = 1L),
          refitIvfPq(s, vroot, 1L))
        val v1Stable = hybridAt(1L) == r1
        val v2 = Manifest.publish(mroot, expectedVersion = 1L,
          Map("index" -> InvertedIndex.currentGen(iroot),
            "vectors" -> VectorStore.currentGen(vroot)))
        val retry = Manifest.publish(mroot, expectedVersion = 1L,
          Map("index" -> 99L, "vectors" -> 99L))
        val retryNoop = v2 == 2L && retry == 2L &&
          Manifest.pins(mroot, 2L) == Map("index" -> 2L, "vectors" -> 2L)
        val r2 = hybridAt(2L)
        // v2 == reads through the stores' own current pointers
        val knnCur = storeSearch(s, vroot, q, k = 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rank").as("rk"))
        val bmCur = InvertedIndex.bm25SearchCurrent(s, iroot, bm25Terms, 20)
          .withColumn("rb", row_number()
            .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("rb"))
        val v2EqCurrent = r2 == fuse(knnCur, bmCur)
        val retainedOk = Manifest.retainedPins(mroot) ==
          Map("index" -> Set(1L, 2L), "vectors" -> Set(1L, 2L))
        // retention: drop manifest v1, then (and only then) the stores'
        // gen-1 — the v2 read must be byte-unaffected
        val dropped = Manifest.vacuum(mroot, keepLast = 1) == Seq(1L)
        val staleFails =
          try { Manifest.pins(mroot, 1L); false }
          catch { case _: IllegalArgumentException => true }
        val retainedAfter = Manifest.retainedPins(mroot) ==
          Map("index" -> Set(2L), "vectors" -> Set(2L))
        // the ENFORCED store vacuums: gen 1 drops only because no
        // retained manifest version pins it anymore (the pin is an
        // invariant the vacuum cannot violate, not an advisory audit)
        val storeDrops =
          Manifest.vacuumStore(mroot, "index", iroot, keepLast = 1) == Seq(1L) &&
          Manifest.vacuumStore(mroot, "vectors", vroot, keepLast = 1) == Seq(1L)
        val postVacuum = hybridAt(2L) == r2 && storeDrops
        gateFrame(s, r2, "v1_stable_under_publishes" -> v1Stable,
          "v2_eq_current" -> v2EqCurrent, "retry_noop" -> retryNoop,
          "retention_contract_ok" ->
            (dropped && staleFails && retainedOk && retainedAfter),
          "post_vacuum_identical" -> postVacuum,
          "current_version" -> Manifest.currentVersion(mroot))
      },
      Some("""SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_results,
             |  TRUE AS v1_stable_under_publishes, TRUE AS v2_eq_current,
             |  TRUE AS retry_noop, TRUE AS retention_contract_ok,
             |  TRUE AS post_vacuum_identical,
             |  CAST(2 AS BIGINT) AS current_version
             |FROM embeddings WHERE vec_id < 3 ORDER BY query_id""".stripMargin)),

    QDef("q153_training_pipeline",
      // The TRAINING-DATA CAPSTONE — q146's composition idea on the
      // curation side: an incremental crawl pipeline whose every stage
      // is an already-gated operator, composed end-to-end and equal to
      // the one-shot closed form. Batch 1 (even doc ids) flows quality
      // gate (q27's exact score, threshold 0.5) -> its survivors' MinHash
      // band keys admit to the generational signature store (q151
      // machinery, portable-md5 keys). Batch 2 (odd ids) flows the same
      // quality gate -> dedup ADMISSION against history (one semi-join
      // probe of the store, q105/q151 — history never rescanned; clones
      // of retained batch-1 docs are rejected, intra-batch dups are
      // not) -> the retained corpus (batch-1 survivors + batch-2
      // admissions) is token-counted (q26) and packed into 2048-token
      // context windows sharded by source (q66's integer window
      // arithmetic). Output = the packed layout of the final corpus,
      // bit-exact vs DuckDB recomputing the whole pipeline from scratch
      // (quality doubles are the same IEEE arithmetic both engines —
      // q27's gate — so the threshold cut is deterministic; everything
      // after is integer/md5-exact). At 100 TB every stage is the
      // audited scale shape: narrow quality/tokenize maps, one
      // semi-join per crawl batch against a compacted key set, one
      // window per shard for packing.
      (s, d) => {
        val root = scratchDir("q153") + "/sigstore"
        val qual = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"),
            TextFunctions.qualityScore(col("text")).as("quality"))
        val b1 = qual.filter(col("doc_id") % 2 === 0 && col("quality") >= 0.5)
        val b2 = qual.filter(col("doc_id") % 2 === 1 && col("quality") >= 0.5)
        // ONE signature pass over the quality-surviving corpus (guide
        // §1.2): batch 1's admission and batch 2's probe slice it by id
        val sigKeys = signatureKeys(qual.filter(col("quality") >= 0.5))
        signatureStore(root, sigKeys.filter(col("id") % 2 === 0))
        val admitted = b2.join(
          Dedup.admitKeysAgainstMinHashStoreGen(
              b2.select(col("doc_id").as("id")),
              sigKeys.filter(col("id") % 2 === 1), root = root)
            .filter(col("admit")).select(col("id").as("doc_id")),
          Seq("doc_id"), "left_semi")
        packed(b1.unionByName(admitted)).orderBy(col("source"), col("doc_id"))
      },
      Some(s"""${tokCte()}${keepCtes}${bandKeyCtes("doc_id IN (SELECT doc_id FROM keep)")}, store AS (
              |  SELECT DISTINCT band, bucket FROM bnd WHERE doc_id % 2 = 0
              |), hits AS (
              |  SELECT b.doc_id, count(*) AS hit_bands
              |  FROM bnd b JOIN store s ON b.band = s.band AND b.bucket = s.bucket
              |  WHERE b.doc_id % 2 = 1 GROUP BY b.doc_id
              |), corpus AS (
              |  SELECT doc_id FROM keep WHERE doc_id % 2 = 0
              |  UNION ALL
              |  SELECT k.doc_id FROM keep k LEFT JOIN hits h USING (doc_id)
              |  WHERE k.doc_id % 2 = 1 AND coalesce(h.hit_bands, 0) = 0
              |), tokc AS (
              |  SELECT d.doc_id, d.source, CAST(len(t.tk) AS BIGINT) AS n_tokens
              |  FROM documents d
              |  JOIN tok t ON d.doc_id = t.doc_id
              |  JOIN corpus c ON d.doc_id = c.doc_id
              |${packingOracle("tokc")}""".stripMargin)),

    QDef("q154_range_join",
      // POINT-IN-INTERVAL range join without an equi-key — the join
      // flavor between the equi family and the as-of join (q34): every
      // event matched to every maintenance window containing it, where
      // Spark's native plan for the bare BETWEEN condition would be a
      // broadcast nested-loop (O(P x I)). RangeJoin's bucketed rewrite
      // (intervals explode to the fixed-width buckets they overlap,
      // points map to their one bucket, equi-join on bucket, exact
      // containment prunes the boundary) keeps it a plain co-partitioned
      // hash join — the only plan that survives when neither side
      // broadcasts at 100 TB. Windows: 100 90-minute windows every 6
      // hours from the corpus's min event time (computed identically in
      // both engines, broadcast as one row, never per-row). Epoch-ms
      // coordinates both sides (the catalog's timestamp convention);
      // window arithmetic is integer-exact; inclusive bounds. The
      // oracle is DuckDB's own range join over the same BETWEEN.
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_id"), unix_millis(col("ts")).as("ms"))
        val t0 = ev.agg(min(col("ms")).as("t0"))
        val windows = s.range(100).crossJoin(broadcast(t0))
          .select(col("id").as("window_id"),
            (col("t0") + col("id") * 21600000L).as("ws"),
            (col("t0") + col("id") * 21600000L + 5400000L).as("we"))
        RangeJoin.pointInInterval(ev, windows, "ms", "ws", "we",
          bucketWidth = 5400000L)
          .select(col("event_id"), col("window_id"), col("ms"),
            col("ws"), col("we"))
          .orderBy(col("event_id"), col("window_id"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events
             |), t0 AS (SELECT min(ms) AS t0 FROM e
             |), w AS (
             |  SELECT CAST(i AS BIGINT) AS window_id,
             |    t0 + i * 21600000 AS ws, t0 + i * 21600000 + 5400000 AS we
             |  FROM (SELECT unnest(range(0, 100)) AS i) CROSS JOIN t0
             |)
             |SELECT e.event_id, w.window_id, e.ms, w.ws, w.we
             |FROM e JOIN w ON e.ms >= w.ws AND e.ms <= w.we
             |ORDER BY event_id, window_id""".stripMargin)),

    QDef("q156_interval_overlap",
      // The two-sided range join (q154's generalization): pairs of
      // order-fulfillment windows that INTERSECT across two order
      // families — both sides are intervals, so both explode to their
      // overlapped buckets and a pair sharing k buckets must still
      // emit ONCE (RangeJoin keeps it in the bucket holding
      // max(a_s, b_s) — no distinct, hence no corpus-wide dedup
      // shuffle at 100 TB). Windows: start = order date, length =
      // 1..20 days keyed off the order id (heterogeneous lengths are
      // the case that breaks naive fixed-stride approaches). Oracle is
      // DuckDB's own inequality join over the same intervals.
      (s, d) => {
        val o = t(s, d, "orders")
        // o_orderdate is TIMESTAMP_NTZ; the session runs UTC, so the
        // cast is the same instant DuckDB's epoch_ms sees
        def side(m: Int, p: String) = o
          .filter(pmod(col("o_orderkey"), lit(10)) === m)
          .select(col("o_orderkey").as(s"${p}_key"),
            unix_millis(col("o_orderdate").cast("timestamp")).as(s"${p}_s"),
            (unix_millis(col("o_orderdate").cast("timestamp")) +
              (pmod(floor(col("o_orderkey") / 10).cast("long"), lit(20L)) + 1L)
                * 86400000L).as(s"${p}_e"))
        RangeJoin.intervalOverlap(side(0, "a"), side(1, "b"),
          "a_s", "a_e", "b_s", "b_e", bucketWidth = 864000000L)
          .select(col("a_key"), col("b_key"), col("a_s"), col("a_e"),
            col("b_s"), col("b_e"))
          .orderBy(col("a_key"), col("b_key"))
      },
      Some("""WITH a AS (
             |  SELECT o_orderkey AS a_key,
             |    CAST(epoch_ms(o_orderdate) AS BIGINT) AS a_s,
             |    CAST(epoch_ms(o_orderdate) AS BIGINT)
             |      + ((o_orderkey // 10) % 20 + 1) * 86400000 AS a_e
             |  FROM orders WHERE o_orderkey % 10 = 0
             |), b AS (
             |  SELECT o_orderkey AS b_key,
             |    CAST(epoch_ms(o_orderdate) AS BIGINT) AS b_s,
             |    CAST(epoch_ms(o_orderdate) AS BIGINT)
             |      + ((o_orderkey // 10) % 20 + 1) * 86400000 AS b_e
             |  FROM orders WHERE o_orderkey % 10 = 1
             |)
             |SELECT a_key, b_key, a_s, a_e, b_s, b_e
             |FROM a JOIN b ON a_s <= b_e AND b_s <= a_e
             |ORDER BY a_key, b_key""".stripMargin)),

    QDef("q155_ivfsq_topk",
      // The WITHIN-CLUSTER RESOLUTION tier (IVF-SQ8): same IVF probe
      // and exact-re-rank shape as q116's IVF-PQ, but the residual term
      // scores against 8-bit-per-dimension scalar codes instead of
      // 4-bit product codes. The measured motivation (SCALE.md): on
      // clustered corpora PQ's approximate ranking cannot order
      // candidates INSIDE a tight cluster, so recall is shortlist-capped
      // (0.746 at the 32x gate) and chasing it costs a 128x shortlist.
      // SQ8 ranks at near-full precision, so the gate here is BOTH
      // stricter and cheaper than q116's: recall >= 0.9 at a 4x
      // shortlist (q116 gates 0.8 at 32x). Oracle-gated with the q116
      // recall pattern — the in-query brute force is the truth, DuckDB
      // pins the expected verdict rows.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val cents = Similarity.fitCentroids(emb, "vec_id", "embedding",
          nlist = 16, iters = 3)
        val sq = Similarity.ivfSqSearch(q, emb, "vec_id", "embedding", 5,
            cents, nprobe = 12, nassign = 2, shortlistFactor = 4)
          .select("query_id", "neighbor_id")
        val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
          .select("query_id", "neighbor_id")
        val w = Window.partitionBy() // 10 rows by this point: tiny
        sq.join(bf.withColumn("hit", lit(1L)),
            Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_results"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("query_id"), col("n_results"),
            (sum(col("n_hits")).over(w).cast("double")
              / sum(col("n_results")).over(w) >= 0.9).as("recall_ge_090"))
          .orderBy(col("query_id"))
      },
      Some(gateOracle("TRUE AS recall_ge_090"))),

    QDef("q157_sq_store_tier",
      // The SQ8 tier served FROM THE STORE (q123's admission gate at
      // the other resolution): admission persists BOTH code tiers from
      // one residual pass, so tier choice is a read-time dial — the
      // same batch_id=N store that serves PQ candidate generation must
      // serve SQ8 within-cluster resolution with NO re-encode, equal
      // ROW FOR ROW to a from-scratch inline IVF-SQ search (encoding
      // is a pure function of (vector, centroids); the store merely
      // materializes it). Each tier reads only its own code column
      // (parquet pruning) — a PQ search never pays for the sq bytes
      // and vice versa. Shortlist 4x: the SQ gate runs at the CHEAP
      // setting the resolution tier exists to enable.
      (s, d) => {
        val dir = scratchDir("q157")
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 < 8)
        val late = emb.filter(col("vec_id") % 10 >= 8)
        val q = emb.filter(col("vec_id") < 10)
        val (cents, books) = fitIvfPq(base)
        Similarity.appendCodedBatch(base, "vec_id", "embedding", cents, books,
          batchId = 0L, path = dir + "/store")
        Similarity.appendCodedBatch(late, "vec_id", "embedding", cents, books,
          batchId = 1L, path = dir + "/store")
        val admitted = Similarity.searchCodedStore(s, q,
            "vec_id", "embedding", 5, cents, books, dir + "/store",
            nprobe = 12, shortlistFactor = 4, tier = "sq")
          .select(col("query_id"), col("rank"), col("neighbor_id").as("n_admitted"))
        val fresh = Similarity.ivfSqSearch(q, emb, "vec_id", "embedding", 5,
            cents, nprobe = 12, nassign = 2, shortlistFactor = 4)
          .select(col("query_id"), col("rank"), col("neighbor_id").as("n_fresh"))
        admitted.join(fresh, Seq("query_id", "rank"), "full")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).cast("long").as("n_results"),
            bool_and(col("n_admitted") <=> col("n_fresh")).as("store_eq_fresh"))
          .orderBy(col("query_id"))
      },
      Some(gateOracle("TRUE AS store_eq_fresh"))),

    QDef("q158_quantile_store",
      // The QUANTILE store completes the sketch-store family triad
      // (distinct counts q83/q148 HLL, frequencies q92/q149 MG, order
      // statistics HERE): per-batch fixed-range histogram fragments
      // admit under the GenStore discipline, quantile questions read
      // ONLY count rows (the raw stream is never rescanned), and
      // compaction is one groupBy-sum — LOSSLESS, so unlike MG's
      // contract bound the gate is bit-identity, like HLL's. On this
      // integral domain (l_quantity in 1..50, unit bins) the store's
      // integer-rank estimates are EXACT order statistics, which is
      // what lets DuckDB recompute them from the raw table with plain
      // window SQL: ranks use integer ceiling division on BOTH engines
      // (rank = (N*num + den-1) div den), so no float rank can round
      // differently. Gates: 3 fragments -> 1, CAS retry no-op,
      // post-compaction answers bit-identical, a fourth batch appends
      // on top, and the final p25/p50/p75/p95 per return flag equal
      // the exact statistics of the WHOLE stream.
      (s, d) => {
        val root = scratchDir("q158") + "/qstore"
        val li = t(s, d, "lineitem")
        val qs = Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p95", 19, 20))
        QuantileStore.initStore(root)
        (0L to 2L).foreach { b =>
          QuantileStore.admitBatch(s, li.filter(pmod(col("l_orderkey"), lit(4)) === b),
            Seq("l_returnflag"), "l_quantity", lo = 1.0, width = 1.0,
            nbins = 50, batchId = b, root = root)
        }
        def quants() = QuantileStore.quantilesCurrent(s, root,
            Seq("l_returnflag"), qs, lo = 1.0, width = 1.0)
          .collect().map(_.toString).sorted.toSeq
        val (c, _) = compactionCycle(root, QuantileStore.fragmentCount(s, root), quants())(
            QuantileStore.compactStore(s, root, expectedGen = 1L, Seq("l_returnflag"))) {
          QuantileStore.admitBatch(s, li.filter(pmod(col("l_orderkey"), lit(4)) === 3),
            Seq("l_returnflag"), "l_quantity", lo = 1.0, width = 1.0,
            nbins = 50, batchId = 3L, root = root)
        }
        QuantileStore.quantilesCurrent(s, root, Seq("l_returnflag"), qs,
            lo = 1.0, width = 1.0)
          .select(col("l_returnflag"), col("p25"), col("p50"), col("p75"), col("p95"))
          .withGates(c.gates :+ ("est_identical" -> c.readEq): _*)
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH c AS (
             |  SELECT l_returnflag AS k, l_quantity AS v, count(*) AS cnt
             |  FROM lineitem GROUP BY 1, 2
             |), w AS (
             |  SELECT k, v, sum(cnt) OVER (PARTITION BY k ORDER BY v) AS cum,
             |         sum(cnt) OVER (PARTITION BY k) AS n FROM c
             |)
             |SELECT k AS l_returnflag,
             |  min(CASE WHEN cum >= (n*1 + 3) // 4 THEN v END) AS p25,
             |  min(CASE WHEN cum >= (n*1 + 1) // 2 THEN v END) AS p50,
             |  min(CASE WHEN cum >= (n*3 + 3) // 4 THEN v END) AS p75,
             |  min(CASE WHEN cum >= (n*19 + 19) // 20 THEN v END) AS p95,
             |  CAST(3 AS BIGINT) AS frags_before,
             |  CAST(1 AS BIGINT) AS frags_compacted,
             |  CAST(2 AS BIGINT) AS frags_after_admit,
             |  TRUE AS retry_noop, TRUE AS est_identical
             |FROM w GROUP BY k ORDER BY k""".stripMargin)),

    QDef("q159_mmr_rerank",
      // DIVERSIFIED retrieval (maximal marginal relevance): greedy
      // re-rank of a 25-candidate pool where each pick balances
      // relevance against max similarity to prior picks (lambda=0.5 —
      // exact in binary, so both engines weigh identically). The
      // oracle UNROLLS the same greedy: five chained CTEs, each step's
      // argmax a row_number over score with the id tie-break — the
      // sequential dependence that makes MMR inexpressible as one
      // window is exactly k-bounded, so k CTE steps state it in closed
      // form. Engine-specific float values (cos, score) are excluded
      // per the q30 stance; the SELECTION is stable because score gaps
      // dwarf cross-engine noise. In Spark the greedy is ONE codegen'd
      // kernel call per query over its collected bounded pool — the
      // only shuffle MMR adds is the per-query collect_list.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.mmrTopK(emb.filter(col("vec_id") < 10), emb,
            "vec_id", "embedding", 5, poolFactor = 5, lambda = 0.5)
          .select("query_id", "rank", "neighbor_id")
      },
      Some(mmrOracle)),

    QDef("q160_semdedup_sq",
      // SemDeDup on the SQ8 tier (q124's gate at the resolution tier
      // that is MEASURED to own this workload): near-threshold pairs
      // live inside tight clusters, where 4-bit product codes cannot
      // rank candidates and the PQ tier needs a 32x shortlist —
      // SQ8 ranks them at 4x with no codebook fit (SCALE.md: recall
      // 1.000 at 284.6 s vs PQ's best 0.930 at 700 s on clustered
      // 100k). Same re-crawl fixture, same closed-form reachability
      // oracle: every clone pair must meet in the kNN join, edges
      // above threshold are exactly the clone pairs, components are
      // exactly {v, v+shift} with comp = original id.
      (s, d) => {
        val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val recrawl = emb.unionByName(
          emb.select((col("vec_id") + CloneShift).as("vec_id"), col("embedding")))
        Dedup.semanticDedupGroupsKnn(recrawl, "vec_id", "embedding",
            shortlistFactor = 4, tier = "sq")
          .orderBy(col("id"))
      },
      Some(s"""SELECT vec_id AS id, vec_id AS comp FROM embeddings
              |UNION ALL
              |SELECT vec_id + $CloneShift AS id, vec_id AS comp FROM embeddings
              |ORDER BY id""".stripMargin)),

    QDef("q146_hybrid_retrieval",
      // The END-TO-END RETRIEVAL CAPSTONE (the r9 stretch): crawl
      // admission -> index admission -> hybrid BM25 + vector retrieval,
      // all INCREMENTAL across a batch boundary, equal to the one-shot
      // closed form the oracle states. Both stores grow batch-at-a-time
      // (80/20 doc-id split): the retrieval index admits posting/stats
      // fragments (q139 machinery), the vector store admits coded
      // batches under its generation pointer (q123/q128 machinery).
      // The hybrid query then runs ENTIRELY from the stores — BM25
      // top-20 from index rows, an exact-cosine top-10 tier over the
      // store's own reconstructed vectors (VectorStore.vectors: the
      // primary-replica filter, proving the store is self-contained;
      // at 100 TB this tier is the q120 ANN join, the fusion below is
      // tier-agnostic since it consumes only (query, doc, rank)) —
      // and reciprocal-rank fusion (k=60, the standard constant)
      // combines them: rrf = 1/(60+rank_knn) + 1/(60+rank_bm25) over
      // the union of both candidate lists, missing ranks contributing
      // 0. Determinism: ranks are integers from (score desc, id)
      // orders whose adjacent-gap margins exceed cross-engine float
      // noise (measured >= 7.8e-6); the reciprocal sums are the same
      // two IEEE operations in the same written order both engines;
      // rrf ties (rank i in one list only vs rank i in the other)
      // break on doc_id.
      (s, d) => {
        val root = scratchDir("q146")
        val idir = root + "/istore"
        val vroot = root + "/vstore"
        val docs = docTokens(s, d)
        appendDocs(docs.filter(col("doc_id") % 10 < 8), 0L, idir)
        appendDocs(docs.filter(col("doc_id") % 10 >= 8), 1L, idir)
        val emb = t(s, d, "embeddings")
        val b1 = emb.filter(col("vec_id") % 10 < 8)
        val b2 = emb.filter(col("vec_id") % 10 >= 8)
        vectorStore(s, vroot, fitIvfPq(b1), b1, b2)
        val q = emb.filter(col("vec_id") < 3)
        val knn = Similarity.bruteForceTopK(q,
            VectorStore.vectors(s, vroot, "vec_id", "embedding"),
            "vec_id", "embedding", 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rank").as("rk"))
        val bm = InvertedIndex.bm25SearchStore(s, idir, bm25Terms, 20)
          .withColumn("rb", row_number()
            .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("rb"))
        val qids = knn.select(col("query_id")).distinct()
        knn.join(qids.crossJoin(bm), Seq("query_id", "doc_id"), "full_outer")
          .select(col("query_id"), col("doc_id"),
            (coalesce(lit(1.0) / (lit(60) + col("rk")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0))).as("rrf"))
          .withColumn("hrank", row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
          .filter(col("hrank") <= 10)
          .select(col("query_id"), col("hrank"), col("doc_id"), col("rrf"))
          .orderBy(col("query_id"), col("hrank"))
      },
      Some(s"""${tokCte()}${bm25Ctes("tok")}, bmtop AS (
              |  SELECT doc_id,
              |    ${bm25Score()} AS bm25
              |  FROM p ORDER BY bm25 DESC, doc_id LIMIT 20
              |), bmr AS (
              |  SELECT doc_id,
              |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rb
              |  FROM bmtop
              |), qv AS (
              |  SELECT vec_id AS query_id, embedding AS qvec
              |  FROM embeddings WHERE vec_id < 3
              |), cs AS (
              |  SELECT query_id, e.vec_id AS doc_id,
              |    list_cosine_similarity(CAST(qvec AS DOUBLE[]),
              |      CAST(e.embedding AS DOUBLE[])) AS cos
              |  FROM qv, embeddings e WHERE e.vec_id <> qv.query_id
              |), knn AS (
              |  SELECT query_id, doc_id,
              |    CAST(row_number() OVER (PARTITION BY query_id
              |      ORDER BY cos DESC, doc_id) AS BIGINT) AS rk
              |  FROM cs QUALIFY rk <= 10
              |), keys AS (
              |  SELECT query_id, doc_id FROM knn
              |  UNION
              |  SELECT q.query_id, b.doc_id
              |  FROM (SELECT DISTINCT query_id FROM knn) q, bmr b
              |), f AS (
              |  SELECT k.query_id, k.doc_id,
              |    COALESCE(CAST(1.0 AS DOUBLE)/(60 + kn.rk), CAST(0.0 AS DOUBLE))
              |      + COALESCE(CAST(1.0 AS DOUBLE)/(60 + b.rb), CAST(0.0 AS DOUBLE)) AS rrf
              |  FROM keys k
              |  LEFT JOIN knn kn ON kn.query_id = k.query_id AND kn.doc_id = k.doc_id
              |  LEFT JOIN bmr b ON b.doc_id = k.doc_id
              |)
              |SELECT query_id,
              |  CAST(row_number() OVER (PARTITION BY query_id
              |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS hrank,
              |  doc_id, rrf
              |FROM f QUALIFY hrank <= 10
              |ORDER BY query_id, hrank""".stripMargin)),

    QDef("q161_store_takedown",
      // DELETION/TAKEDOWN across the admission-store family — the LSM
      // delete-marker pattern on the GenStore discipline. A training
      // pipeline hits takedown/contamination purges routinely; before
      // this the only answer was a full store rebuild. A delete batch
      // admits doc ids once (per-batch idempotent overwrite, the
      // family's fences); every read then excludes them by an anti-join
      // on index-sized candidate rows — BM25's corpus stats (N, avgdl)
      // and per-term df shrink EXACTLY — and the next compaction
      // removes them physically: the compacted generation matches a
      // store built without the documents and carries no pending set.
      // Gates (booleans computed eagerly in-query, the q143 pattern):
      // replayed delete + never-admitted-id delete are no-ops; post-
      // compaction serving equals pending-delete serving; no deleted id
      // survives anywhere in the compacted fragments and the stats row
      // shrank to the clean corpus; and the VECTOR store's takedown
      // (same discipline on coded vectors) serves identically to a
      // store built without the deleted vectors — same index artifact,
      // exhaustive probe, so the exact-cosine re-rank makes equality
      // strict — before AND after its physical compaction. The emitted
      // rows are the post-takedown BM25 top-15, whose closed form the
      // oracle states over `documents WHERE doc_id % 7 <> 3`. At 100 TB
      // a takedown is one tiny delete-fragment write; reads pay one
      // anti-join against a distinct id set until the next compaction
      // folds the purge into work it was doing anyway.
      (s, d) => {
        import s.implicits._
        // The index-store family and the vector-store family below touch
        // disjoint roots and exchange no values, so their store-building
        // jobs overlap (Par, guide §2.6); each section's internal order —
        // and therefore every gate and the emitted frame — is unchanged.
        // OverlapSpec gates this exact shape against its sequential twin.
        val root = scratchDir("q161") + "/istore"
        def indexSection(): (Boolean, Boolean, Boolean) = {
          val docs = docTokens(s, d)
          indexStore(s, root, docs.filter(col("doc_id") % 10 < 5),
            docs.filter(col("doc_id") % 10 >= 5))
          val dead = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
          val (_, replayNoop, postEqPending) = takedownCycle(
              bm25Rows(InvertedIndex.bm25SearchCurrent(s, root, bm25Terms, 15)))(
            InvertedIndex.admitDeleteBatch(s, dead, "doc_id", 0L, root),
            InvertedIndex.admitDeleteBatch(s,
              Seq(Long.MaxValue - 1).toDF("doc_id"), "doc_id", 1L, root))(
            InvertedIndex.compactStore(s, root, expectedGen = 1L))
          val gen2 = InvertedIndex.genDir(root, 2L)
          val purged = Tables.parquet(s, s"$gen2/postings")
            .select(explode(col("postings")).as("p"))
            .filter(col("p.doc_id") % 7 === 3).isEmpty &&
            Tables.parquet(s, s"$gen2/doclens")
              .filter(col("doc_id") % 7 === 3).isEmpty &&
            noPendingDeletes(gen2)
          (replayNoop, postEqPending, purged)
        }
        def vectorSection(): (Boolean, Boolean) = {
          val emb = t(s, d, "embeddings")
          val index = fitIvfPq(emb, kmeansIters = 2, m = 8)
          val vroot = scratchDir("q161") + "/vstore"
          val vclean = scratchDir("q161") + "/vclean"
          vectorStore(s, vroot, index, emb.filter(col("vec_id") % 2 === 0),
            emb.filter(col("vec_id") % 2 === 1))
          vectorStore(s, vclean, index, emb.filter(col("vec_id") % 5 =!= 2))
          VectorStore.admitDeletes(s, vroot,
            emb.filter(col("vec_id") % 5 === 2).select("vec_id"), "vec_id", 0L)
          def vsearch(r: String) = exhaustiveSearch(s, r, emb.filter(col("vec_id") < 8))
          val vwant = vsearch(vclean)
          val vPending = vsearch(vroot) == vwant
          VectorStore.compactGen(s, vroot, expectedGen = 1L)
          val vCompacted = vsearch(vroot) == vwant &&
            Tables.parquet(s, VectorStore.codedDir(vroot, 2L))
              .filter(col("cid") % 5 === 2).isEmpty
          (vPending, vCompacted)
        }
        val ((replayNoop, postEqPending, purged), (vPending, vCompacted)) =
          Par.both(indexSection(), vectorSection())
        InvertedIndex.bm25SearchCurrent(s, root, bm25Terms, 15)
          .withGates("replay_noop" -> replayNoop, "post_eq_pending" -> postEqPending,
            "physical_purge" -> purged, "vector_pending_ok" -> vPending,
            "vector_compacted_ok" -> vCompacted)
          .orderBy(col("bm25").desc, col("doc_id"))
      },
      Some(s"""${tokCte("doc_id % 7 <> 3")}${bm25Ctes("tok")}
              |SELECT doc_id,
              |  ${bm25Score()} AS bm25,
              |  TRUE AS replay_noop, TRUE AS post_eq_pending,
              |  TRUE AS physical_purge, TRUE AS vector_pending_ok,
              |  TRUE AS vector_compacted_ok
              |FROM p ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)),

    QDef("q162_store_mmr",
      // MMR FROM THE PERSISTED STORE — the actual 100 TB composition
      // (q159 proved the kernel over a brute-force pool; this closes
      // the store -> tier -> diversity chain): the candidate pool comes
      // from VectorStore.search on the SQ8 tier, and the candidate
      // vectors come from the store's own reconstruction
      // (VectorStore.vectors — no raw-source rescan anywhere in the
      // read path). Exhaustive probe (nprobe = nlist) + corpus-covering
      // shortlist make the pool DETERMINISTIC and exactly the
      // brute-force top-25 (every public search re-ranks on exact
      // cosine and excludes self), so q159's unrolled-greedy CTE oracle
      // states the same closed form over the raw table. In production
      // the same two calls run at index geometry (small nprobe,
      // cell-pruned scan) — the composition is tier-agnostic because
      // mmrRerank consumes only (query_id, neighbor_id, cos) pools.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val root = scratchDir("q162") + "/vstore"
        vectorStore(s, root, fitIvfPq(emb, kmeansIters = 2, m = 8),
          emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1))
        val pool = exhaustiveFrame(s, root, emb.filter(col("vec_id") < 10), k = 25,
          tier = "sq")
        Similarity.mmrRerank(pool,
            VectorStore.vectors(s, root, "vec_id", "embedding"),
            "vec_id", "embedding", 5, lambda = 0.5)
          .select("query_id", "rank", "neighbor_id")
      },
      Some(mmrOracle)),

    QDef("q163_quantile_hdr",
      // HDR (LOG-WIDTH) QUANTILE BINS — the unbounded-domain mode q158's
      // fixed-range store cannot serve: on the heavy-tailed
      // l_extendedprice domain (~900..114000) a 50-unit-bin store
      // provably CLAMPS — every percentile collapses to the top edge
      // (demonstrated in-query: the fixed_clamps gate admits the same
      // stream into the fixed store and checks all four percentiles ==
      // 50.0). The HDR mode (base-2 exponent buckets, 2^subBits linear
      // sub-buckets) keeps a RELATIVE-error contract instead:
      // edge <= exact < edge*(1 + 2^-subBits) at any magnitude. Bin
      // assignment and edge reconstruction are EXACT INTEGER math (bit
      // length + shifts — no float log whose last ulp could differ
      // between engines), which is what lets DuckDB recompute the
      // identical histogram: e = bitlength(v)-1, shift = max(e-4, 0),
      // bin = shift*16 + (v >> shift); edge inverts with the same
      // shifts. Same fragment schema as q158, so the whole lifecycle is
      // shared verbatim and re-gated here: 3 fragments -> 1, CAS retry
      // no-op, post-compaction answers bit-identical (lossless sum), a
      // fourth batch appends on top, and the final per-flag
      // p25/p50/p75/p95 edges equal the oracle's closed form.
      (s, d) => {
        val root = scratchDir("q163") + "/qstore"
        val li = t(s, d, "lineitem").select(col("l_returnflag"),
          floor(col("l_extendedprice")).cast("long").as("v"), col("l_orderkey"))
        val qs = Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p95", 19, 20))
        QuantileStore.initStore(root)
        (0L to 2L).foreach { b =>
          QuantileStore.admitBatchHdr(s, li.filter(pmod(col("l_orderkey"), lit(4)) === b),
            Seq("l_returnflag"), "v", subBits = 4, nbins = 2048,
            batchId = b, root = root)
        }
        def quants() = QuantileStore.quantilesCurrentHdr(s, root,
            Seq("l_returnflag"), qs, subBits = 4)
          .collect().map(_.toString).sorted.toSeq
        val (c, _) = compactionCycle(root, QuantileStore.fragmentCount(s, root), quants())(
            QuantileStore.compactStore(s, root, expectedGen = 1L, Seq("l_returnflag"))) {
          QuantileStore.admitBatchHdr(s, li.filter(pmod(col("l_orderkey"), lit(4)) === 3),
            Seq("l_returnflag"), "v", subBits = 4, nbins = 2048,
            batchId = 3L, root = root)
        }
        // the fixed-range CLAMP: the same stream through q158's
        // unit-bin store bounded at 50 collapses every percentile to
        // the top edge — the failure mode HDR binning exists to fix
        val froot = scratchDir("q163") + "/fixed"
        QuantileStore.initStore(froot)
        QuantileStore.admitBatch(s, li, Seq("l_returnflag"), "v",
          lo = 1.0, width = 1.0, nbins = 50, batchId = 0L, root = froot)
        val fixedClamps = QuantileStore.quantilesCurrent(s, froot,
            Seq("l_returnflag"), qs, lo = 1.0, width = 1.0)
          .collect().forall(r => (1 to 4).forall(i => r.getDouble(i) == 50.0))
        QuantileStore.quantilesCurrentHdr(s, root, Seq("l_returnflag"), qs,
            subBits = 4)
          .select(col("l_returnflag"), col("p25"), col("p50"), col("p75"), col("p95"))
          .withGates(c.gates ++ Seq("est_identical" -> c.readEq,
            "fixed_clamps" -> fixedClamps): _*)
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH v AS (
             |  SELECT l_returnflag AS k,
             |    CAST(floor(l_extendedprice) AS BIGINT) AS v
             |  FROM lineitem
             |), b AS (
             |  SELECT k, v, greatest(length(bin(v)) - 1 - 4, 0) AS sh FROM v
             |), c AS (
             |  SELECT k, least(sh * 16 + (v >> sh), 2047) AS bin,
             |    count(*) AS cnt
             |  FROM b GROUP BY 1, 2
             |), w AS (
             |  SELECT k, bin, sum(cnt) OVER (PARTITION BY k ORDER BY bin) AS cum,
             |         sum(cnt) OVER (PARTITION BY k) AS n FROM c
             |), e AS (
             |  SELECT k, cum, n,
             |    CAST(((bin - greatest(bin // 16 - 1, 0) * 16)
             |      << greatest(bin // 16 - 1, 0)) AS BIGINT) AS edge
             |  FROM w
             |)
             |SELECT k AS l_returnflag,
             |  min(CASE WHEN cum >= (n*1 + 3) // 4 THEN edge END) AS p25,
             |  min(CASE WHEN cum >= (n*1 + 1) // 2 THEN edge END) AS p50,
             |  min(CASE WHEN cum >= (n*3 + 3) // 4 THEN edge END) AS p75,
             |  min(CASE WHEN cum >= (n*19 + 19) // 20 THEN edge END) AS p95,
             |  CAST(3 AS BIGINT) AS frags_before,
             |  CAST(1 AS BIGINT) AS frags_compacted,
             |  CAST(2 AS BIGINT) AS frags_after_admit,
             |  TRUE AS retry_noop, TRUE AS est_identical, TRUE AS fixed_clamps
             |FROM e GROUP BY k ORDER BY k""".stripMargin)),

    QDef("q164_streaming_curation",
      // THE STREAMING CURATION CAPSTONE — q153's batch pipeline as ONE
      // continuous foreachBatch job (EventStreams.curationIngestCompacting):
      // the corpus arrives as three crawl files streamed through a file
      // source (maxFilesPerTrigger=1; each file written only after the
      // previous micro-batch fully drains, pinning batch ids 0/1/2 to
      // crawl order), and every micro-batch flows quality gate (q27's
      // exact score, threshold 0.5) -> ONE MinHash-LSH semi-join probe
      // against the generational signature store (q151 machinery,
      // portable-md5 keys; batch 0 probes an empty store, so everything
      // admits) -> survivors' band keys admitted -> compactIfFragmented
      // (maxFragments=2, so compaction fires MID-STREAM after batch 1
      // and batch 2 probes the COMPACTED fragment — the lossless-
      // compaction claim exercised inside a live stream) -> retained
      // docs land under batch_id=N. After the stream drains, the
      // retained corpus is token-counted and packed into 2048-token
      // context windows sharded by source (q66 arithmetic). The oracle
      // recomputes the whole SEQUENTIAL admission closed-form: store
      // after batch k = bands of everything retained so far, batch k+1
      // admitted iff zero band hits — so stream == batch, bit for bit,
      // across a mid-stream compaction. Intra-batch duplicates are both
      // retained (the q153 stance); the mid_stream_compaction column
      // pins that the generation really advanced while the stream ran.
      // At 100 TB: each micro-batch is narrow maps plus one key-set
      // semi-join; no stage ever rescans prior batches' raw docs.
      (s, d) => {
        val c = curationStream(s, d, scratchDir("q164"))
        val genSeen = try {
          (0 to 2).map { k =>
            c.crawl(c.docs.filter(pmod(col("doc_id"), lit(3)) === k))
            GenStore.currentGen(c.root)
          }
        } finally c.query.stop()
        // compaction fired while the stream was LIVE: the generation
        // advanced between micro-batches, not after the last one
        val midStream = genSeen.init.exists(_ >= 2L)
        packed(Tables.parquet(s, c.retained))
          .withColumn("mid_stream_compaction", lit(midStream))
          .orderBy(col("source"), col("doc_id"))
      },
      Some(s"""$curationCtes${curationStage("2", "store2", 2)}, corpus AS (
              |  SELECT doc_id FROM adm0 UNION ALL
              |  SELECT doc_id FROM adm1 UNION ALL
              |  SELECT doc_id FROM adm2
              |), tokc AS (
              |  SELECT d.doc_id, d.source, CAST(len(t.tk) AS BIGINT) AS n_tokens
              |  FROM documents d
              |  JOIN tok t ON d.doc_id = t.doc_id
              |  JOIN corpus c ON d.doc_id = c.doc_id
              |${packingOracle("tokc", "TRUE AS mid_stream_compaction")}""".stripMargin)),

    QDef("q165_signature_takedown",
      // TAKEDOWN FOR THE DEDUP FAMILY — q161's LSM delete-marker
      // discipline on the SIGNATURE store, whose state is a bare key
      // set: a takedown deletes the (band, bucket) keys DERIVED from
      // the removed documents (key-set subtraction — the shared-key
      // caveat is documented on KeySetStore.admitDeleteBatch), so a
      // RE-CRAWL of removed content is re-admittable instead of being
      // blocked forever by ghost signatures. The whole corpus is
      // admitted in two batches; the dead set (doc_id % 7 = 3) is
      // deleted; the emitted rows are the dead docs' RE-CRAWL admission
      // decisions, whose closed form the oracle states over store =
      // bands(all docs) EXCEPT bands(dead docs) — a dead doc stays
      // rejected exactly when a surviving clone contributed the same
      // keys. Gates (eager booleans, the q161 pattern): replayed delete
      // + delete of never-admitted keys are no-ops; post-compaction
      // decisions equal pending-delete decisions bit for bit; the
      // compacted generation contains no dead key and no pending set;
      // and at least one dead doc flipped rejected -> admitted (the
      // takedown actually re-opened admission). At 100 TB a takedown is
      // one tiny delete-fragment write; reads pay one anti-join on
      // index-sized key rows until compaction folds the subtraction in.
      (s, d) => {
        import s.implicits._
        val root = scratchDir("q165") + "/sigstore"
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        // ONE signature pass over the corpus (guide §1.2): every admit,
        // delete, and probe below filters this checkpointed key set by
        // doc id instead of re-shingling raw text. In-query
        // materialization only; nothing survives the query.
        val keys = signatureKeys(docs)
        signatureStore(root, keys.filter(col("id") % 2 === 0),
          keys.filter(col("id") % 2 === 1))
        val dead = docs.filter(col("doc_id") % 7 === 3)
        val deadIds = dead.select(col("doc_id").as("id"))
        val deadKeyRows = keys.filter(col("id") % 7 === 3)
        def probe() = decisionRows(
          Dedup.admitKeysAgainstMinHashStoreGen(deadIds, deadKeyRows, root))
        val before = probe()
        // the replay repeats the delete (same batch id, same keys) and
        // deletes keys the store never admitted: subtracting an absent
        // key removes nothing
        val (pending, replayNoop, postEqPending) = takedownCycle(probe())(
          Dedup.deleteMinHashKeysBatch(deadKeyRows, batchId = 0L, root = root),
          Dedup.deleteMinHashBatch(
            Seq((Long.MaxValue - 1, "zqx jvk wpl qrm vtn")).toDF("doc_id", "text"),
            "doc_id", "text", n = 3, numHashes = 32, bands = 8,
            batchId = 1L, root = root, portableKeys = true))(
          KeySetStore.compactStore(s, root, expectedGen = 1L))
        val gen2 = GenStore.genDir(root, 2L)
        val deadKeys = deadKeyRows
          .select(col("band"), col("bucket")).distinct()
        val frag2 = GenStore.listBatchIds(s, gen2)
        val purged = Tables.parquet(s, frag2.map(i => s"$gen2/batch_id=$i"): _*)
          .join(deadKeys, Seq("band", "bucket"), "left_semi").isEmpty &&
          noPendingDeletes(gen2)
        val byId = pending.map(p => p._1 -> p._3).toMap
        val readmitted = before.exists(b => !b._3 && byId(b._1))
        decisionFrame(deadIds, deadKeyRows, root)
          .withGates("replay_noop" -> replayNoop, "post_eq_pending" -> postEqPending,
            "physical_purge" -> purged, "readmitted_exists" -> readmitted)
          .orderBy(col("doc_id"))
      },
      Some(s"""${tokCte()}${bandKeyCtes()}, store AS (
              |  SELECT DISTINCT band, bucket FROM bnd
              |  EXCEPT
              |  SELECT DISTINCT band, bucket FROM bnd WHERE doc_id % 7 = 3
              |), hits AS (
              |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS hit_bands
              |  FROM bnd b JOIN store s ON b.band = s.band AND b.bucket = s.bucket
              |  WHERE b.doc_id % 7 = 3 GROUP BY b.doc_id
              |)
              |SELECT d.doc_id,
              |  CAST(coalesce(h.hit_bands, 0) AS BIGINT) AS hit_bands,
              |  coalesce(h.hit_bands, 0) = 0 AS admit,
              |  TRUE AS replay_noop, TRUE AS post_eq_pending,
              |  TRUE AS physical_purge, TRUE AS readmitted_exists
              |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 3) d
              |LEFT JOIN hits h USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    QDef("q166_quantile_retraction",
      // EXACT RETRACTION on the quantile store — the takedown family's
      // third member, and the only store where deletion is EXACT
      // without attribution or rebuild: bin counts form an abelian
      // GROUP (HLL registers max — no inverse; MG counters are lossy —
      // no inverse), so retracting a batch is just landing its
      // NEGATED per-(key, bin) aggregation as a normal fragment. Every
      // read's merge sum subtracts it with zero new machinery; the
      // lifecycle (fences, sweep, streaming) applies verbatim. Three
      // batches admit, batch 1's rows are retracted; the emitted
      // per-flag p25/p50/p75/p95 are the EXACT order statistics of the
      // surviving stream (unit bins, integral domain), which the oracle
      // recomputes over lineitem WHERE l_orderkey % 4 IN (0, 2). Gates:
      // post-retraction answers equal a store built WITHOUT the
      // retracted batch; compaction leaves answers bit-identical AND
      // purges physically (merged cells equal the fresh store's, fully
      // retracted cells dropped, no negative survivor); a retraction
      // replay after compaction is refused by the sealed-id fence (a
      // second subtraction is NOT idempotent — the fence q165's key-set
      // deletes don't need is load-bearing here); and over-retraction
      // (rows never ingested) fails LOUDLY at compaction BEFORE the
      // pointer moves — readers keep the old generation. At 100 TB a
      // retraction costs one map-side-combined aggregation over the
      // retracted slice; no read ever rescans the surviving stream.
      (s, d) => {
        val root = scratchDir("q166") + "/qstore"
        val froot = scratchDir("q166") + "/fresh"
        val li = t(s, d, "lineitem")
        val qs = Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p95", 19, 20))
        def admit(r: String, slice: Column, b: Long) =
          QuantileStore.admitBatch(s, li.filter(slice), Seq("l_returnflag"),
            "l_quantity", lo = 1.0, width = 1.0, nbins = 50,
            batchId = b, root = r)
        QuantileStore.initStore(root)
        (0L to 2L).foreach(b => admit(root, pmod(col("l_orderkey"), lit(4)) === b, b))
        QuantileStore.retractBatch(s, li.filter(pmod(col("l_orderkey"), lit(4)) === 1),
          Seq("l_returnflag"), "l_quantity", lo = 1.0, width = 1.0,
          nbins = 50, batchId = 3L, root = root)
        def quants(r: String) = QuantileStore.quantilesCurrent(s, r,
            Seq("l_returnflag"), qs, lo = 1.0, width = 1.0)
          .collect().map(_.toString).sorted.toSeq
        val pending = quants(root)
        QuantileStore.initStore(froot)
        admit(froot, pmod(col("l_orderkey"), lit(4)) === 0, 0L)
        admit(froot, pmod(col("l_orderkey"), lit(4)) === 2, 1L)
        val freshEq = pending == quants(froot)
        QuantileStore.compactStore(s, root, expectedGen = 1L, Seq("l_returnflag"))
        val postEqPending = quants(root) == pending
        def hist(r: String) = QuantileStore.mergedHistogram(s,
            GenStore.genDir(r, GenStore.currentGen(r)), Seq("l_returnflag"))
          .select(col("l_returnflag"), col("bin"), col("cnt").cast("long"))
        val frag = Tables.parquet(s, GenStore.genDir(root, 2L)).drop("batch_id")
        val physical = frag.filter(col("cnt") <= 0).isEmpty &&
          Checks.multisetEq(hist(root), hist(froot))
        val sealedRefused = refuses("subtract twice") {
          QuantileStore.retractBatch(s,
            li.filter(pmod(col("l_orderkey"), lit(4)) === 1),
            Seq("l_returnflag"), "l_quantity", lo = 1.0, width = 1.0,
            nbins = 50, batchId = 3L, root = root)
        }
        // over-retraction: a store that never saw orderkey%4==3 rows
        // retracts them — the compaction must refuse to publish
        val oroot = scratchDir("q166") + "/over"
        QuantileStore.initStore(oroot)
        admit(oroot, pmod(col("l_orderkey"), lit(4)) === 0, 0L)
        QuantileStore.retractBatch(s, li.filter(pmod(col("l_orderkey"), lit(4)) === 3),
          Seq("l_returnflag"), "l_quantity", lo = 1.0, width = 1.0,
          nbins = 50, batchId = 1L, root = oroot)
        val overLoud = refuses("NOT published") {
          QuantileStore.compactStore(s, oroot, expectedGen = 1L, Seq("l_returnflag"))
        } &&
          GenStore.currentGen(oroot) == 1L
        QuantileStore.quantilesCurrent(s, root, Seq("l_returnflag"), qs,
            lo = 1.0, width = 1.0)
          .select(col("l_returnflag"), col("p25"), col("p50"), col("p75"), col("p95"))
          .withGates("fresh_eq" -> freshEq, "post_eq_pending" -> postEqPending,
            "physical_purge" -> physical, "sealed_replay_refused" -> sealedRefused,
            "over_retraction_loud" -> overLoud)
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH c AS (
             |  SELECT l_returnflag AS k, l_quantity AS v, count(*) AS cnt
             |  FROM lineitem WHERE l_orderkey % 4 IN (0, 2) GROUP BY 1, 2
             |), w AS (
             |  SELECT k, v, sum(cnt) OVER (PARTITION BY k ORDER BY v) AS cum,
             |         sum(cnt) OVER (PARTITION BY k) AS n FROM c
             |)
             |SELECT k AS l_returnflag,
             |  min(CASE WHEN cum >= (n*1 + 3) // 4 THEN v END) AS p25,
             |  min(CASE WHEN cum >= (n*1 + 1) // 2 THEN v END) AS p50,
             |  min(CASE WHEN cum >= (n*3 + 3) // 4 THEN v END) AS p75,
             |  min(CASE WHEN cum >= (n*19 + 19) // 20 THEN v END) AS p95,
             |  TRUE AS fresh_eq, TRUE AS post_eq_pending,
             |  TRUE AS physical_purge, TRUE AS sealed_replay_refused,
             |  TRUE AS over_retraction_loud
             |FROM w GROUP BY k ORDER BY k""".stripMargin)),

    QDef("q167_hard_negatives",
      // HARD-NEGATIVE MINING for contrastive embedding training — the
      // composition every retrieval-model pipeline runs: per query doc,
      // the top-m most SIMILAR documents that are NOT near-duplicates
      // of it (a near-dup is a false negative that poisons the loss;
      // a dissimilar doc is an easy negative that teaches nothing).
      // Two audited operators meet: the kNN join supplies candidates
      // (k bounds every query's fan-out structurally) and SemDeDup's
      // component labels (q124) supply the exclusion set — candidates
      // join their component by id (co-partitioned, label-sized rows),
      // same-component neighbors drop, survivors re-rank per query.
      // Fixture: the q124 re-crawl corpus (every vector + an id-shifted
      // exact clone), so components are exactly the clone pairs and the
      // oracle states them in closed form (comp = vec_id % shift) while
      // computing the cosine top-k independently — each query's rank-1
      // neighbor is its own clone at cos 1.0, which the component
      // filter must remove, leaving ranks 2..6 as neg_rank 1..5.
      // Cosine ties (each neighbor appears with its identical clone)
      // break by neighbor_id in BOTH engines; distinct-vector gaps are
      // >= 1.9e-5 (q30), far above float noise. At 100 TB: labels come
      // from the persisted dedup pipeline, candidates from the
      // store-served ANN tiers — everything here is id-keyed joins of
      // k-bounded rows; nothing all-pairs, nothing corpus-sized moves.
      (s, d) => {
        val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val recrawl = emb.unionByName(
          emb.select((col("vec_id") + CloneShift).as("vec_id"), col("embedding")))
        val comps = Dedup.semanticDedupGroupsKnn(recrawl, "vec_id", "embedding")
        val knn = Similarity.bruteForceTopK(
          recrawl.filter(col("vec_id") < 10), recrawl,
          "vec_id", "embedding", 6)
        val negRank = row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("rank")))
        knn
          .join(comps.select(col("id").as("query_id"), col("comp").as("qcomp")),
            Seq("query_id"))
          .join(comps.select(col("id").as("neighbor_id"), col("comp").as("ncomp")),
            Seq("neighbor_id"))
          .filter(col("qcomp") =!= col("ncomp"))
          .withColumn("neg_rank", negRank.cast("long"))
          .filter(col("neg_rank") <= 5)
          .select(col("query_id"), col("neg_rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("neg_rank"))
      },
      Some(s"""WITH base AS (
              |  SELECT vec_id, embedding FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + $CloneShift, embedding FROM embeddings
              |), q AS (
              |  SELECT vec_id AS query_id, embedding AS qv FROM base WHERE vec_id < 10
              |), sc AS (
              |  SELECT query_id, b.vec_id AS neighbor_id,
              |    list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cos
              |  FROM q, base b WHERE b.vec_id <> query_id
              |), r AS (
              |  SELECT query_id, neighbor_id,
              |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
              |  FROM sc QUALIFY rank <= 6
              |), f AS (
              |  SELECT query_id, neighbor_id, rank FROM r
              |  WHERE neighbor_id % $CloneShift <> query_id % $CloneShift
              |)
              |SELECT query_id,
              |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rank) AS BIGINT) AS neg_rank,
              |  neighbor_id
              |FROM f QUALIFY neg_rank <= 5
              |ORDER BY query_id, neg_rank""".stripMargin)),

    QDef("q168_takedown_cutover",
      // THE TAKEDOWN CAPSTONE — one document set purged from ALL THREE
      // serving stores (retrieval index q161, vector store q161,
      // signature store q165) and published as ONE atomic manifest
      // cutover (q152), with the pre-purge world still pinnable for
      // compliance ("what exactly did we serve before the takedown?").
      // The load-bearing discipline this query states: pending deletes
      // are GENERATION-SCOPED state, so a delete admitted to a
      // generation some manifest pin references would mutate that
      // pinned read — the cutover therefore PINS v1, ROLLS every store
      // one generation (pure compaction), admits the deletes into the
      // rolled generation, compacts again to purge physically, and only
      // then publishes v2. Gates: v1's index/vector/signature reads are
      // BIT-IDENTICAL to the pre-takedown captures after the whole
      // cutover (deletes never touched a pinned generation); v2's
      // vector read equals the current-pointer read and serves no dead
      // vector; at least one dead doc's re-crawl flipped
      // rejected -> admitted at v2 (the q165 re-admission claim,
      // manifest-resolved); and the emitted rows are v2's BM25 top-15,
      // whose closed form the oracle states over the clean corpus. At
      // 100 TB the cutover costs each store one delete-fragment write
      // and two compactions it was scheduled to do anyway; readers
      // never block and never see a half-purged world.
      (s, d) => {
        val base = scratchDir("q168")
        val iroot = base + "/istore"
        val vroot = base + "/vstore"
        val kroot = base + "/sigstore"
        val mroot = base + "/manifest"
        val docs = t(s, d, "documents")
        val toks = tokenized(docs)
        val emb = t(s, d, "embeddings")
        // The three store families land in disjoint roots with no exchanged
        // values, so their builds overlap (Par, guide §2.6). The signature
        // section derives the corpus band keys ONCE (guide §1.2, the q165
        // pattern) — the takedown and all three pinned probes below slice
        // the same checkpointed key set instead of re-shingling raw text.
        val sigKeys = fleetStores(s, docs, emb, iroot, vroot, kroot,
          toks.filter(col("doc_id") % 2 === 0), toks.filter(col("doc_id") % 2 === 1))
        Manifest.init(mroot,
          Map("index" -> 1L, "vectors" -> 1L, "signatures" -> 1L))
        val deadDocs = docs.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), col("text"))
        val deadKeys = sigKeys.filter(col("id") % 7 === 3)
        val deadVecs = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
        def bmAt(v: Long) = bm25Rows(pinnedBm25(s, iroot, mroot, v))
        def vsAt(v: Long) = exhaustiveSearch(s, vroot, emb.filter(col("vec_id") < 8),
          Some(Manifest.resolve(mroot, v, "vectors")))
        def sigAt(v: Long) = decisionRows(Dedup.admitKeysAgainstMinHashStoreAt(
          deadDocs.select(col("doc_id").as("id")), deadKeys,
          root = kroot, gen = Manifest.resolve(mroot, v, "signatures")))
        // pinned pre-takedown captures: three disjoint store reads, overlapped
        val (preBm, (preVs, preSig)) =
          Par.both(bmAt(1L), Par.both(vsAt(1L), sigAt(1L)))
        // ROLL: a pure compaction moves every store off the pinned
        // generation, so the deletes below never touch gen 1
        fleetCompact(s, iroot, vroot, kroot, 1L)
        // TAKEDOWN into the rolled generation, then purge physically
        fleetTakedown(s, docs, emb, sigKeys, iroot, vroot, kroot)
        fleetCompact(s, iroot, vroot, kroot, 2L)
        val v2 = Manifest.publish(mroot, expectedVersion = 1L,
          Map("index" -> 3L, "vectors" -> 3L, "signatures" -> 3L))
        // the compliance pin: v1 serves the pre-takedown world, bit
        // for bit, after the entire cutover (three disjoint re-reads,
        // overlapped like the captures)
        val (v1Bm, (v1Vs, v1Sig)) =
          Par.both(bmAt(1L), Par.both(vsAt(1L), sigAt(1L)))
        val v1Stable = v2 == 2L &&
          v1Bm == preBm && v1Vs == preVs && v1Sig == preSig
        // v2: purged everywhere, resolved through one version
        val postVs = vsAt(2L)
        val deadSet = deadVecs.collect().map(_.getLong(0)).toSet
        val vectorPurged = postVs.nonEmpty &&
          postVs.forall(x => !deadSet.contains(x._3)) &&
          postVs == exhaustiveSearch(s, vroot, emb.filter(col("vec_id") < 8))
        val postSig = sigAt(2L)
        val readmitted = preSig.zip(postSig).exists { case (b, p) => !b._3 && p._3 }
        pinnedBm25(s, iroot, mroot, 2L)
          .withGates("v1_pre_takedown_stable" -> v1Stable,
            "vector_purged_at_v2" -> vectorPurged,
            "recrawl_readmitted_at_v2" -> readmitted)
          .orderBy(col("bm25").desc, col("doc_id"))
      },
      Some(s"""${tokCte("doc_id % 7 <> 3")}${bm25Ctes("tok")}
              |SELECT doc_id,
              |  ${bm25Score()} AS bm25,
              |  TRUE AS v1_pre_takedown_stable,
              |  TRUE AS vector_purged_at_v2,
              |  TRUE AS recrawl_readmitted_at_v2
              |FROM p ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)),

    QDef("q169_gram_takedown",
      // TAKEDOWN for the SPAN-dedup family — q165's key-set subtraction
      // on the gram store: the whole corpus's 8-gram keys are admitted,
      // the dead set's (doc_id % 7 = 3) derived grams are deleted, and
      // the emitted rows are the dead docs' per-doc RE-CRAWL flag
      // counts: spans_before has a CLOSED FORM (a doc's own grams are
      // all in the full store, so every position flags and the islands
      // merge to exactly ONE wall-to-wall span for any doc with >= 8
      // tokens; 0 below the gram width), and spans_after counts the
      // islands that survive against store = grams(all) EXCEPT
      // grams(dead) — nonzero only where a SURVIVING document
      // contributed the same run. Every dead doc emits a row, so the
      // gate is meaningful even when (as at this SF) no run is shared
      // and every doc fully de-flags. Gates: replayed delete is a
      // no-op; post-compaction counts equal pending counts bit for bit;
      // the compacted generation holds no deleted gram and no pending
      // set; total flags strictly shrank. Same 100 TB posture as q165:
      // one tiny delete-fragment write, one bounded anti-join while
      // pending, folded away by scheduled compaction.
      (s, d) => {
        import s.implicits._
        val root = scratchDir("q169") + "/gstore"
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        KeySetStore.init(root)
        Dedup.admitGramBatch(docs, "doc_id", "text", minTokens = 8,
          batchId = 0L, root = root, portableKeys = true)
        val dead = docs.filter(col("doc_id") % 7 === 3)
        def spanCounts() = Dedup.spansAgainstStoreGen(dead, "doc_id", "text",
            minTokens = 8, root = root, portableKeys = true)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val before = spanCounts()
        val (pending, replayNoop, postEqPending) = takedownCycle(spanCounts())(
          Dedup.deleteGramBatch(dead, "doc_id", "text", minTokens = 8,
            batchId = 0L, root = root, portableKeys = true))(
          KeySetStore.compactStore(s, root, expectedGen = 1L))
        val shrank = pending.map(_._2).sum < before.map(_._2).sum
        // the admitted delete keys, read back from the compacted-away
        // generation for the purge check
        val delKeys = Tables.parquet(s, s"$root/gen=1/deletes")
          .select(col("g")).distinct()
        val gen2 = GenStore.genDir(root, 2L)
        val frag2 = GenStore.listBatchIds(s, gen2)
        val purged = Tables.parquet(s, frag2.map(i => s"$gen2/batch_id=$i"): _*)
          .join(delKeys, Seq("g"), "left_semi").isEmpty && noPendingDeletes(gen2)
        val beforeDf = before.toDF("doc_id", "spans_before")
        val afterDf = pending.toDF("doc_id", "spans_after")
        dead.select(col("doc_id"))
          .join(beforeDf, Seq("doc_id"), "left")
          .join(afterDf, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("spans_before"), lit(0L)).as("spans_before"),
            coalesce(col("spans_after"), lit(0L)).as("spans_after"),
            (coalesce(col("spans_after"), lit(0L)) === 0L).as("fully_deflagged"))
          .withGates("replay_noop" -> replayNoop, "post_eq_pending" -> postEqPending,
            "physical_purge" -> purged, "total_flags_shrank" -> shrank)
          .orderBy(col("doc_id"))
      },
      Some(s"""${tokCte()}, g AS (
             |  SELECT doc_id,
             |    unnest(range(1, len(tk) - 6)) AS pos,
             |    unnest(list_transform(range(1, len(tk) - 6),
             |      i -> substring(md5(array_to_string(tk[i:i+7], ' ')), 1, 16))) AS gram
             |  FROM tok WHERE len(tk) >= 8
             |), store AS (
             |  SELECT DISTINCT gram FROM g
             |  EXCEPT
             |  SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 3
             |), b AS (
             |  SELECT doc_id, CAST(1 AS BIGINT) AS spans_before FROM tok
             |  WHERE doc_id % 7 = 3 AND len(tk) >= 8
             |), p AS (
             |  SELECT doc_id, pos FROM g
             |  WHERE doc_id % 7 = 3 AND gram IN (SELECT gram FROM store)
             |), isl AS (
             |  SELECT doc_id, pos,
             |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             |  FROM p
             |), a AS (
             |  SELECT doc_id, CAST(count(DISTINCT grp) AS BIGINT) AS spans_after
             |  FROM isl GROUP BY doc_id
             |)
             |SELECT d.doc_id,
             |  coalesce(b.spans_before, 0) AS spans_before,
             |  coalesce(a.spans_after, 0) AS spans_after,
             |  coalesce(a.spans_after, 0) = 0 AS fully_deflagged,
             |  TRUE AS replay_noop, TRUE AS post_eq_pending,
             |  TRUE AS physical_purge, TRUE AS total_flags_shrank
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 3) d
             |LEFT JOIN b USING (doc_id)
             |LEFT JOIN a USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    QDef("q170_curation_takedown",
      // THE FULL-CIRCLE CAPSTONE — q164's continuous curation stream
      // with a TAKEDOWN landing mid-stream and the removed content
      // RE-CRAWLED afterwards: crawl batches 0 and 1 flow the quality
      // gate -> store-probe dedup -> admission (compacting mid-stream
      // as q164); then a takedown purges every retained doc with
      // doc_id % 5 = 0 from the signature store (q165's key-set
      // subtraction — the delete lands as pending in the live store);
      // crawl batch 2 carries the remaining originals PLUS an id-
      // shifted re-crawl of the taken-down docs, and its ONE admission
      // probe (against keysCurrent, which subtracts the pending
      // deletes) must RE-ADMIT the re-crawls that ghost signatures
      // would have rejected forever — while still rejecting clones of
      // retained history. The final corpus purges the taken-down
      // originals (one anti-join on the retained store — the same LSM
      // read-side pattern) and packs as q164. The oracle recomputes the
      // whole sequential closed form: two admission stages, the key
      // EXCEPT, the mixed third stage (originals and re-crawls probe
      // the subtracted store uniformly), the corpus anti-join, and the
      // packing arithmetic — stream-with-takedown == batch closed form
      // bit for bit. At 100 TB every new stage is index-sized: the
      // takedown is one delete-fragment write, the corpus purge one
      // anti-join per read until the corpus store's own compaction.
      (s, d) => {
        val c = curationStream(s, d, scratchDir("q170"))
        val docs = c.docs
        val takedown = try {
          (0 to 1).foreach(k => c.crawl(docs.filter(pmod(col("doc_id"), lit(3)) === k)))
          // the takedown: purge retained %5==0 docs from the live store
          val td = Tables.parquet(s, c.retained)
            .filter(pmod(col("doc_id"), lit(5)) === 0)
            .select(col("doc_id"), col("text")).localCheckpoint()
          Dedup.deleteMinHashBatch(td, "doc_id", "text", n = 3,
            numHashes = 32, bands = 8, batchId = 0L, root = c.root,
            portableKeys = true)
          // batch 2: remaining originals + a RE-CRAWL of the purged docs
          val recrawl = docs
            .join(td.select("doc_id"), Seq("doc_id"), "left_semi")
            .select((col("doc_id") + CloneShift).as("doc_id"),
              col("source"), col("text"))
          c.crawl(docs.filter(pmod(col("doc_id"), lit(3)) === 2).unionByName(recrawl))
          td.select("doc_id")
        } finally c.query.stop()
        packed(Tables.parquet(s, c.retained).join(takedown, Seq("doc_id"), "left_anti"))
          .orderBy(col("source"), col("doc_id"))
      },
      Some(s"""$curationCtes, tdown AS (
              |  SELECT doc_id FROM (
              |    SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1)
              |  WHERE doc_id % 5 = 0
              |), store2p AS (
              |  SELECT band, bucket FROM store2
              |  EXCEPT
              |  SELECT band, bucket FROM bnd
              |  WHERE doc_id IN (SELECT doc_id FROM tdown)
              |)${curationStage("2o", "store2p", 2)}, hits2c AS (
              |  SELECT b.doc_id, count(*) AS c FROM bnd b
              |  JOIN store2p s ON b.band = s.band AND b.bucket = s.bucket
              |  WHERE b.doc_id IN (SELECT doc_id FROM tdown) GROUP BY b.doc_id
              |), adm2c AS (
              |  SELECT t.doc_id FROM tdown t LEFT JOIN hits2c h USING (doc_id)
              |  WHERE coalesce(h.c, 0) = 0
              |), corpus AS (
              |  SELECT doc_id, doc_id AS src_doc FROM adm0
              |  WHERE doc_id NOT IN (SELECT doc_id FROM tdown)
              |  UNION ALL
              |  SELECT doc_id, doc_id FROM adm1
              |  WHERE doc_id NOT IN (SELECT doc_id FROM tdown)
              |  UNION ALL
              |  SELECT doc_id, doc_id FROM adm2o
              |  UNION ALL
              |  SELECT doc_id + $CloneShift AS doc_id, doc_id AS src_doc FROM adm2c
              |), tokc AS (
              |  SELECT c.doc_id, d.source, CAST(len(t.tk) AS BIGINT) AS n_tokens
              |  FROM corpus c
              |  JOIN documents d ON d.doc_id = c.src_doc
              |  JOIN tok t ON t.doc_id = c.src_doc
              |${packingOracle("tokc")}""".stripMargin)),

    QDef("q171_takedown_impact",
      // THE TAKEDOWN IMPACT REPORT — the ops/compliance question every
      // purge raises: what did it do to serving? The same BM25 top-15
      // is captured before the takedown and after the purge compaction,
      // and ONE full-outer join classifies every doc that appears in
      // either list: `left` (fell out — deleted, or displaced by the
      // shrunken corpus stats), `entered` (rose into the freed slots),
      // `moved` (rank changed — df/N/avgdl shifts re-weight even
      // untouched docs), `held`. Both ranked lists have closed forms
      // (the q139 full-corpus BM25 and q161's clean-corpus BM25), so
      // the oracle recomputes the whole report including the rank
      // arithmetic — the movement classification is engine-checkable,
      // not narrative. At 100 TB the report costs two k-row ranked
      // lists and one k-row join — nothing corpus-sized; the stores'
      // generation isolation is what makes "before" still readable
      // after the purge (here captured eagerly; q168 shows the
      // manifest-pinned form).
      (s, d) => {
        val root = scratchDir("q171") + "/istore"
        indexStore(s, root, docTokens(s, d))
        def top15() = InvertedIndex.bm25SearchCurrent(s, root, bm25Terms, 15)
          .withColumn("rank", row_number()
            .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
        val before = top15()
          .select(col("doc_id"), col("rank").as("rank_before"),
            col("bm25").as("bm25_before"))
          .localCheckpoint()
        InvertedIndex.admitDeleteBatch(s,
          t(s, d, "documents").filter(col("doc_id") % 7 === 3).select("doc_id"),
          "doc_id", 0L, root)
        InvertedIndex.compactStore(s, root, expectedGen = 1L)
        val after = top15()
          .select(col("doc_id"), col("rank").as("rank_after"),
            col("bm25").as("bm25_after"))
          .localCheckpoint()
        before.join(after, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            coalesce(col("rank_before"), lit(0L)).as("rank_before"),
            coalesce(col("rank_after"), lit(0L)).as("rank_after"),
            coalesce(col("bm25_before"), lit(0.0)).as("bm25_before"),
            coalesce(col("bm25_after"), lit(0.0)).as("bm25_after"),
            when(col("rank_after").isNull, lit("left"))
              .when(col("rank_before").isNull, lit("entered"))
              .when(col("rank_before") === col("rank_after"), lit("held"))
              .otherwise(lit("moved")).as("status"))
          .orderBy(col("doc_id"))
      },
      Some(s"""${tokCte()}${bm25Ctes("tok")}, rb AS (
              |  SELECT doc_id,
              |    ${bm25Score()} AS bm25_before,
              |    CAST(row_number() OVER (ORDER BY ${bm25Score()} DESC, doc_id) AS BIGINT) AS rank_before
              |  FROM p QUALIFY rank_before <= 15
              |), dlc AS (
              |  SELECT doc_id, dl FROM dl WHERE doc_id % 7 <> 3
              |), stc AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n,
              |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
              |  FROM dlc
              |), tfc AS (
              |  SELECT doc_id, tok, tf FROM tf WHERE doc_id % 7 <> 3
              |), dfcc AS (
              |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY tok
              |), wc AS (
              |  SELECT tfc.doc_id, tfc.tok,
              |    ${bm25W("stc.n", "dfcc.df", "tfc.tf", "dlc.dl", "stc.avgdl")} AS w
              |  FROM tfc JOIN dfcc USING (tok) JOIN dlc USING (doc_id) CROSS JOIN stc
              |), pc AS (
              |  SELECT doc_id,
              |    ${bm25Terms.zipWithIndex.map { case (t2, i) =>
                     s"max(CASE WHEN tok = '$t2' THEN w END) AS w$i" }.mkString(",\n              |    ")}
              |  FROM wc GROUP BY doc_id
              |), ra AS (
              |  SELECT doc_id,
              |    ${bm25Score()} AS bm25_after,
              |    CAST(row_number() OVER (ORDER BY ${bm25Score()} DESC, doc_id) AS BIGINT) AS rank_after
              |  FROM pc QUALIFY rank_after <= 15
              |)
              |SELECT doc_id,
              |  coalesce(rank_before, 0) AS rank_before,
              |  coalesce(rank_after, 0) AS rank_after,
              |  coalesce(bm25_before, 0.0) AS bm25_before,
              |  coalesce(bm25_after, 0.0) AS bm25_after,
              |  CASE WHEN rank_after IS NULL THEN 'left'
              |       WHEN rank_before IS NULL THEN 'entered'
              |       WHEN rank_before = rank_after THEN 'held'
              |       ELSE 'moved' END AS status
              |FROM rb FULL JOIN ra USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    QDef("q172_curation_funnel",
      // THE CURATION FUNNEL REPORT — the observability table every
      // pipeline run ships: per source, how many docs (and tokens)
      // survived each stage of q153's pipeline: crawled -> quality-kept
      // (q27's exact score, threshold 0.5) -> dedup-admitted (batch 1 =
      // even ids admitted wholesale; batch 2 = odd ids probed against
      // the store, q105/q151 machinery, portable keys). Every cell is
      // an exact integer the oracle recomputes from the same closed
      // form, so the funnel is engine-checkable — the drop rates a
      // data-quality dashboard would chart are facts, not estimates.
      // At 100 TB this is ONE map-side-combined aggregation over
      // decision columns the pipeline already computed — the report
      // costs nothing beyond the run it describes.
      (s, d) => {
        val root = scratchDir("q172") + "/sigstore"
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"),
            TextFunctions.qualityScore(col("text")).as("quality"),
            TextFunctions.tokenCount(col("text")).as("n_tokens"))
        val b1 = docs.filter(col("doc_id") % 2 === 0 && col("quality") >= 0.5)
        val b2 = docs.filter(col("doc_id") % 2 === 1 && col("quality") >= 0.5)
        KeySetStore.init(root)
        Dedup.admitMinHashBatch(b1, "doc_id", "text", n = 3, numHashes = 32,
          bands = 8, batchId = 0L, root = root, portableKeys = true)
        val admitted2 = b2.join(
          Dedup.admitAgainstMinHashStoreGen(b2, "doc_id", "text", n = 3,
              numHashes = 32, bands = 8, root = root, portableKeys = true)
            .filter(col("admit")).select(col("id").as("doc_id")),
          Seq("doc_id"), "left_semi")
        val retainedIds = b1.select("doc_id")
          .unionByName(admitted2.select("doc_id"))
        docs
          .join(retainedIds.withColumn("retained", lit(true)),
            Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).cast("long").as("n_crawled"),
            sum(when(col("quality") >= 0.5, 1L).otherwise(0L))
              .cast("long").as("n_kept"),
            sum(when(col("retained"), 1L).otherwise(0L))
              .cast("long").as("n_admitted"),
            sum(col("n_tokens")).cast("long").as("tokens_crawled"),
            sum(when(col("retained"), col("n_tokens")).otherwise(0L))
              .cast("long").as("tokens_retained"))
          .orderBy(col("source"))
      },
      Some(s"""${tokCte()}${keepCtes}${bandKeyCtes("doc_id IN (SELECT doc_id FROM keep)")}, store AS (
              |  SELECT DISTINCT band, bucket FROM bnd WHERE doc_id % 2 = 0
              |), hits AS (
              |  SELECT b.doc_id, count(*) AS hit_bands
              |  FROM bnd b JOIN store s ON b.band = s.band AND b.bucket = s.bucket
              |  WHERE b.doc_id % 2 = 1 GROUP BY b.doc_id
              |), retained AS (
              |  SELECT doc_id FROM keep WHERE doc_id % 2 = 0
              |  UNION ALL
              |  SELECT k.doc_id FROM keep k LEFT JOIN hits h USING (doc_id)
              |  WHERE k.doc_id % 2 = 1 AND coalesce(h.hit_bands, 0) = 0
              |)
              |SELECT d.source,
              |  CAST(count(*) AS BIGINT) AS n_crawled,
              |  CAST(sum(CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |  CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
              |  CAST(sum(len(t.tk)) AS BIGINT) AS tokens_crawled,
              |  CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN len(t.tk) ELSE 0 END) AS BIGINT) AS tokens_retained
              |FROM documents d
              |JOIN tok t ON t.doc_id = d.doc_id
              |JOIN qual q ON q.doc_id = d.doc_id
              |LEFT JOIN retained r ON r.doc_id = d.doc_id
              |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    QDef("q173_decontamination_purge",
      // DETECTION-TRIGGERED TAKEDOWN — the real-world flow behind q161:
      // benchmark contamination is FOUND, then PURGED, end to end in
      // one engine-checkable run. The eval set (doc_id % 17 = 0) builds
      // a gram store (q104 machinery, portable keys); the training
      // corpus (everything else) is indexed for BM25 serving; the
      // detection pass is ONE semi-join of training gram postings
      // against the benchmark store (spansAgainstStoreGen — never
      // all-pairs); every training doc sharing an 8-gram run with the
      // eval set becomes a delete batch; the purge compaction rewrites
      // them out. Emitted rows are the post-purge BM25 top-15 PLUS the
      // engine-checkable detection count — the oracle recomputes the
      // contaminated set from the same gram closed form and the clean
      // BM25 over train-minus-contaminated, so the corpus stats' shift
      // (N, avgdl, df shrink by the purged docs) is verified to the
      // 6th decimal, not assumed. At 100 TB: detection is one bounded
      // semi-join per crawl batch against a KB-scale benchmark store,
      // the purge is q161's one-fragment-write + scheduled compaction.
      (s, d) => {
        val base = scratchDir("q173")
        val groot = base + "/benchgrams"
        val iroot = base + "/istore"
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val bench = docs.filter(col("doc_id") % 17 === 0)
        val train = docs.filter(col("doc_id") % 17 =!= 0)
        KeySetStore.init(groot)
        Dedup.admitGramBatch(bench, "doc_id", "text", minTokens = 8,
          batchId = 0L, root = groot, portableKeys = true)
        indexStore(s, iroot, tokenized(train))
        // detection: training docs sharing any 8-gram run with the bench
        val contaminated = Dedup.spansAgainstStoreGen(train, "doc_id",
            "text", minTokens = 8, root = groot, portableKeys = true)
          .select(col("doc_id")).distinct().localCheckpoint()
        val nContaminated = contaminated.count()
        InvertedIndex.admitDeleteBatch(s, contaminated, "doc_id", 0L, iroot)
        InvertedIndex.compactStore(s, iroot, expectedGen = 1L)
        InvertedIndex.bm25SearchCurrent(s, iroot, bm25Terms, 15)
          .withColumn("n_contaminated", lit(nContaminated))
          .orderBy(col("bm25").desc, col("doc_id"))
      },
      Some(s"""${tokCte()}, g AS (
              |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6),
              |    i -> substring(md5(array_to_string(tk[i:i+7], ' ')), 1, 16))) AS gram
              |  FROM tok WHERE len(tk) >= 8
              |), benchg AS (
              |  SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0
              |), contaminated AS (
              |  SELECT DISTINCT doc_id FROM g
              |  WHERE doc_id % 17 <> 0 AND gram IN (SELECT gram FROM benchg)
              |), clean AS (
              |  SELECT doc_id, tk FROM tok
              |  WHERE doc_id % 17 <> 0
              |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
              |)${bm25Ctes("clean")}
              |SELECT doc_id,
              |  ${bm25Score()} AS bm25,
              |  (SELECT CAST(count(*) AS BIGINT) FROM contaminated) AS n_contaminated
              |FROM p ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)),

    QDef("q174_compaction_policy",
      // THE MAINTENANCE TRIGGER — needsCompaction, the compaction twin
      // of q157's refit policy: fragment count OR pending-delete
      // fraction crossing a threshold fires the fold, so the takedown
      // serving window (q161/q165's pending anti-join) is bounded by
      // CONTRACT, not by an operator remembering to schedule
      // maintenance. Lifecycle under gates: a fresh single-fragment
      // store is quiet; a 1/7 takedown stays under a 99% threshold and
      // crosses a 5% one; compactIfNeeded fires exactly then, purges
      // the pending set physically (no deletes dir in the new
      // generation), and the predicate goes quiet; admission decisions
      // are BIT-IDENTICAL across the policy-fired fold (the q151/q161
      // serving-no-op gate); a later admit re-arms the fragment-count
      // leg. The predicate's cost model is parquet FOOTER row counts
      // (GenStore.footerRowCount) — no Spark job, evaluable every
      // batch at 100 TB.
      (s, d) => {
        val root = scratchDir("q174") + "/sigstore"
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        // ONE signature pass (native XXH64 keys) for the admit, the
        // takedown, both probes, and the re-arm batch (guide §1.2)
        val sigKeys = Dedup.minHashBandKeys(docs, "doc_id", "text",
          n = 3, numHashes = 32, bands = 8).localCheckpoint()
        signatureStore(root, sigKeys)
        val freshQuiet = !KeySetStore.needsCompaction(s, root)
        Dedup.deleteMinHashKeysBatch(sigKeys.filter(col("id") % 7 === 3),
          batchId = 0L, root = root)
        def decisions() = admitDecisions(docs.select(col("doc_id").as("id")), sigKeys, root)
        val pre = decisions()
        val looseQuiet = !KeySetStore.needsCompaction(s, root,
          maxPendingFraction = 0.99)
        val tightFires = KeySetStore.needsCompaction(s, root,
          maxPendingFraction = 0.05)
        val fired = KeySetStore.compactIfNeeded(s, root,
          maxPendingFraction = 0.05) == Some(2L)
        val quietAfter = !KeySetStore.needsCompaction(s, root,
          maxPendingFraction = 0.05)
        val purged = noPendingDeletes(GenStore.genDir(root, 2L))
        val decisionsStable = decisions() == pre
        Dedup.admitMinHashKeysBatch(sigKeys.filter(col("id") < 5),
          batchId = 10L, root = root)
        val fragLegRearms = KeySetStore.needsCompaction(s, root,
          maxFragments = 2) && !KeySetStore.needsCompaction(s, root,
          maxFragments = 3)
        docs.agg(
          count(lit(1)).cast("long").as("n_docs"),
          count(when(col("doc_id") % 7 === 3, lit(1))).cast("long")
            .as("n_dead"))
          .withGates("fresh_quiet" -> freshQuiet, "loose_threshold_quiet" -> looseQuiet,
            "tight_threshold_fires" -> tightFires, "policy_fired_gen2" -> fired,
            "quiet_after_fold" -> quietAfter, "pending_set_purged" -> purged,
            "decisions_stable_across_fold" -> decisionsStable,
            "fragment_leg_rearms" -> fragLegRearms,
            "current_gen" -> GenStore.currentGen(root))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(CASE WHEN doc_id % 7 = 3 THEN 1 END) AS BIGINT) AS n_dead,
             |  TRUE AS fresh_quiet, TRUE AS loose_threshold_quiet,
             |  TRUE AS tight_threshold_fires, TRUE AS policy_fired_gen2,
             |  TRUE AS quiet_after_fold, TRUE AS pending_set_purged,
             |  TRUE AS decisions_stable_across_fold,
             |  TRUE AS fragment_leg_rearms,
             |  CAST(2 AS BIGINT) AS current_gen
             |FROM documents""".stripMargin)),

    QDef("q175_video_motion",
      // PER-FRAME MOTION over the real AVI decode (the operator that
      // closes the codec-payload note for everything the JDK honestly
      // decodes): consecutive frames are ImageIO-decoded to PIXELS and
      // each adjacent pair contributes a diff energy — mean squared
      // 8-bit RGB difference (Multimodal.extractMotionFeatures). The
      // planted frames are solid GRAYSCALE (r=g=b), so each pair's
      // energy is the exact integer δ² (the /3 cancels), making mean,
      // max and the still fraction closed-form in BOTH engines with no
      // rounding anywhere: every third frame repeats its predecessor's
      // level (a duplicated frame — the thing a video curation pipeline
      // drops first), so still pairs land at known positions. Inter-
      // frame codecs the JDK cannot decode remain the one disclosed
      // exclusion; this is exact for intra-coded (M-JPEG/BMP-chunk)
      // streams, which is what AVI frame chunks expose.
      (s, _) => {
        import s.implicits._
        val vids = (0 until 40).map { i =>
          val (w, h) = (8 + (i % 4) * 4, 6 + (i % 3) * 4)
          val nf = 4 + i % 5
          val frames = (0 until nf).map { f =>
            val g = if (f % 3 == 2) f - 1 else f
            val c = (i * 7 + g * 13) % 256
            Multimodal.syntheticBmp(w, h)((_, _) => (c, c, c))
          }
          (i.toLong, AviContainer.syntheticAvi(w, h, 33333 + i, frames))
        }.toDF("doc_id", "payload")
        Multimodal.extractMotionFeatures(vids, "doc_id", "payload")
          .select(col("id").as("doc_id"), col("n_frames"), col("n_pairs"),
            col("mean_diff_energy"), col("max_diff_energy"),
            col("still_fraction"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH v AS (SELECT i, 4 + i % 5 AS nf FROM range(0, 40) t(i)),
             |f AS (SELECT i, nf, unnest(range(0, nf)) AS f FROM v),
             |c AS (SELECT i, nf, f,
             |        (i * 7 + (CASE WHEN f % 3 = 2 THEN f - 1 ELSE f END) * 13) % 256 AS lvl
             |      FROM f),
             |p AS (SELECT a.i, a.nf,
             |        CAST((b.lvl - a.lvl) * (b.lvl - a.lvl) AS DOUBLE) AS e
             |      FROM c a JOIN c b ON a.i = b.i AND b.f = a.f + 1)
             |SELECT CAST(i AS BIGINT) AS doc_id,
             |  CAST(any_value(nf) AS BIGINT) AS n_frames,
             |  CAST(count(*) AS BIGINT) AS n_pairs,
             |  sum(e) / count(*) AS mean_diff_energy,
             |  max(e) AS max_diff_energy,
             |  CAST(count(CASE WHEN e = 0 THEN 1 END) AS DOUBLE) / count(*)
             |    AS still_fraction
             |FROM p GROUP BY i ORDER BY doc_id""".stripMargin)),

    QDef("q176_sketch_takedown_rebuild",
      // THE SKETCH TAKEDOWN CONTRACT (SketchStore.rebuildKeys). HLL
      // deletion is information-theoretically impossible — register max
      // is not invertible — so a takedown leaves estimates counting the
      // dead values: the STALENESS the first gate pins (stale est >=
      // rebuilt est, register-monotone). The remedy is the SCOPED
      // rebuild: recompute ONLY the affected keys from the surviving
      // corpus slice and publish as a new generation, keys a takedown
      // never touched carrying their registers bit-for-bit. Gates: the
      // AFFECTED keys equal a FROM-SCRATCH store over the surviving
      // rows (both sides are one hll_sketch_agg over the same multiset
      // — order- and split-insensitive, exactly one answer; carried
      // keys are NOT held to that: a union of fragment sketches is not
      // estimate-identical to a one-pass sketch at high cardinality,
      // the sf0.1 gate run that pinned this distinction); unaffected
      // keys' estimates are unchanged from the pre-takedown store; and
      // the rebuilt estimates stand within the q148 accuracy bands of
      // the exact surviving distinct counts the oracle recomputes. At
      // 100 TB the rebuild scans the affected keys' surviving rows
      // once — never the corpus — plus KB sketch rows.
      (s, d) => {
        val root = scratchDir("q176") + "/sstore"
        val ev = t(s, d, "events")
        val affectedTypes = Seq("click", "view")
        val deadPred = col("event_type").isInCollection(affectedTypes) &&
          col("user_id") % 10 === 3
        sketchStore(s, root, (0L to 1L).map(b => ev.filter(pmod(col("event_id"), lit(2)) === b)): _*)
        val stale = sketchEstimates(s, root) // post-takedown, pre-rebuild: counts dead users
        val survivors = ev.filter(!deadPred)
        import s.implicits._
        val gen2 = SketchStore.rebuildKeys(s, root, expectedGen = 1L,
          Seq("event_type"), "user_id",
          affectedKeys = affectedTypes.toDF("event_type"),
          survivors = survivors)
        val rebuilt = sketchEstimates(s, root)
        val staleMap = stale.toMap
        val rebuiltMap = rebuilt.toMap
        // from-scratch twin over the surviving rows only
        val fresh = scratchDir("q176f") + "/sstore"
        sketchStore(s, fresh, survivors)
        val freshMap = sketchEstimates(s, fresh).toMap
        val eqFresh = affectedTypes.forall(k => freshMap(k) == rebuiltMap(k))
        val staleUpper = affectedTypes.forall(k => staleMap(k) >= rebuiltMap(k))
        val unaffectedIdentical = rebuiltMap.keySet.filterNot(
          affectedTypes.contains).forall(k => rebuiltMap(k) == staleMap(k))
        survivors.groupBy(col("event_type"))
          .agg(count_distinct(col("user_id")).cast("long").as("n_exact_surviving"))
          .join(rebuiltMap.toSeq.toDF("event_type", "est_rebuilt"), "event_type")
          .select(col("event_type"),
            col("n_exact_surviving"),
            col("event_type").isInCollection(affectedTypes).as("affected"),
            lit(gen2 == 2L).as("rebuild_published_gen2"),
            lit(eqFresh).as("affected_eq_from_scratch"),
            lit(staleUpper).as("stale_is_upper_bound"),
            lit(unaffectedIdentical).as("unaffected_keys_identical"),
            (abs(col("est_rebuilt") - col("n_exact_surviving")).cast("double")
              <= col("n_exact_surviving") * 0.05).as("within_5pct"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact_surviving,
             |  event_type IN ('click', 'view') AS affected,
             |  TRUE AS rebuild_published_gen2,
             |  TRUE AS affected_eq_from_scratch,
             |  TRUE AS stale_is_upper_bound,
             |  TRUE AS unaffected_keys_identical,
             |  TRUE AS within_5pct
             |FROM events
             |WHERE NOT (event_type IN ('click', 'view') AND user_id % 10 = 3)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QDef("q177_frequency_takedown_rebuild",
      // THE FREQUENCY-STORE TAKEDOWN CONTRACT (HeavyHitters
      // .rebuildBatches). MG deletion is impossible — the prune discards
      // evicted counts irrecoverably, and negative corrections would
      // break est <= exact — so the contract is per-FRAGMENT scoped
      // rebuild: recompute only the fragments whose source batches held
      // dead rows, from the surviving slice of those batches, carry
      // every other fragment bit-for-bit, publish as a new generation.
      // m exceeds the key cardinality here, so MG never prunes and
      // every estimate is EXACT — the emitted per-key counts are the
      // oracle's surviving-row counts directly (stale counts beforehand
      // equal the full table, the staleness gate), making the rebuild
      // verifiable to the row rather than within-bound. The sealed
      // high-water mark afterwards covers the rebuilt id: an admission
      // replay of the pre-takedown batch 0 must be REFUSED, or it would
      // resurrect the dead rows' counts.
      (s, d) => {
        val root = scratchDir("q177") + "/hhstore"
        val ev = t(s, d, "events")
        val m = 64
        val deadPred = pmod(col("event_id"), lit(2)) === 0 &&
          col("user_id") % 10 === 3
        HeavyHitters.initStore(root)
        (0L to 1L).foreach { b =>
          HeavyHitters.admitBatch(s,
            ev.filter(pmod(col("event_id"), lit(2)) === b), "event_type",
            m, b, root)
        }
        def hitters() = HeavyHitters.hittersCurrent(s, root, m)
          .collect().toSeq.map(r => (r.getString(0), r.getLong(1))).sorted
        val stale = hitters().toMap
        val survivors0 = ev.filter(pmod(col("event_id"), lit(2)) === 0 &&
          !(col("user_id") % 10 === 3))
        val gen2 = HeavyHitters.rebuildBatches(s, root, expectedGen = 1L,
          "event_type", m, Seq(0L -> survivors0))
        val rebuilt = hitters()
        val staleIsFull = ev.groupBy(col("event_type")).count()
          .collect().forall(r => stale(r.getString(0)) == r.getLong(1))
        val sealedRefused = refuses("compact", "seal") {
          HeavyHitters.admitBatch(s,
            ev.filter(pmod(col("event_id"), lit(2)) === 0), "event_type",
            m, 0L, root)
        }
        import s.implicits._
        rebuilt.toDF("event_type", "est_rebuilt")
          .withGates("rebuild_published_gen2" -> (gen2 == 2L),
            "stale_counted_dead_rows" -> staleIsFull,
            "pre_takedown_replay_refused" -> sealedRefused)
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS est_rebuilt,
             |  TRUE AS rebuild_published_gen2,
             |  TRUE AS stale_counted_dead_rows,
             |  TRUE AS pre_takedown_replay_refused
             |FROM events
             |WHERE NOT (event_id % 2 = 0 AND user_id % 10 = 3)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QDef("q178_takedown_sink_policy",
      // CONTINUOUS TAKEDOWN, WINDOW BOUNDED IN-STREAM — the q165
      // signature-takedown sink with its maintenance leg armed
      // (compactAtPendingFraction): every takedown micro-batch lands
      // its delete fragment AND evaluates needsCompaction (q174's
      // footer-count predicate), so the pending window closes inside
      // the stream the moment it crosses the threshold — no external
      // maintenance scheduler in the loop. Gates: the generation rolled
      // while the stream ran; the predicate is quiet at the sink's own
      // threshold when the stream drains (the bounded-by-contract
      // claim); post-stream admission decisions equal the batch closed
      // form (delete + compact via the batch APIs) — the q164
      // stream==batch discipline applied to deletion; and a taken-down
      // doc re-admits (the purge is live, not pending). At 100 TB the
      // per-micro-batch cost is one tiny fragment write plus two footer
      // reads; compactions amortize at the operator's chosen fraction.
      (s, d) => {
        val base = scratchDir("q178")
        val root = s"$base/sig"
        val twin = s"$base/twin"
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val dead = docs.filter(col("doc_id") % 5 === 1)
        // ONE signature pass (guide §1.2) feeds both bootstraps, the
        // twin's batch takedown, and every probe below; the two
        // disjoint-root bootstraps overlap (Par, §2.6). The STREAM still
        // derives its micro-batches' keys itself — that machinery is the
        // thing under test.
        val sigKeys = signatureKeys(docs)
        Par.both(signatureStore(root, sigKeys), signatureStore(twin, sigKeys))
        val feed = s"$base/feed"
        dead.repartition(2).write.parquet(feed)
        val stream = feedStream(s, docs.schema, feed)
        val q = EventStreams.signatureTakedownIngest(stream, "doc_id",
          "text", root, s"$base/_cp", n = 3, numHashes = 32, bands = 8,
          portableKeys = true, compactAtPendingFraction = 0.01)
        try q.processAllAvailable() finally q.stop()
        val genRolled = GenStore.currentGen(root) > 1L
        val quietAtDrain = !KeySetStore.needsCompaction(s, root,
          maxPendingFraction = 0.01)
        // batch closed form: one delete batch + one compaction
        Dedup.deleteMinHashKeysBatch(sigKeys.filter(col("id") % 5 === 1),
          batchId = 0L, root = twin)
        KeySetStore.compactStore(s, twin, GenStore.currentGen(twin))
        def dec(r: String) = admitDecisions(docs.select(col("doc_id").as("id")), sigKeys, r)
        // two disjoint finalized stores — the probes overlap
        val (streamed, twinDec) = Par.both(dec(root), dec(twin))
        val eqBatch = streamed == twinDec
        val deadReadmit = streamed.filter(_._1 % 5 == 1L).forall(_._2)
        docs.agg(count(lit(1)).cast("long").as("n_docs"),
            count(when(col("doc_id") % 5 === 1, lit(1))).cast("long")
              .as("n_taken_down"))
          .withGates("compaction_fired_in_stream" -> genRolled,
            "window_closed_at_drain" -> quietAtDrain,
            "stream_eq_batch_closed_form" -> eqBatch,
            "taken_down_docs_readmittable" -> deadReadmit)
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(CASE WHEN doc_id % 5 = 1 THEN 1 END) AS BIGINT)
             |    AS n_taken_down,
             |  TRUE AS compaction_fired_in_stream,
             |  TRUE AS window_closed_at_drain,
             |  TRUE AS stream_eq_batch_closed_form,
             |  TRUE AS taken_down_docs_readmittable
             |FROM documents""".stripMargin)),

    QDef("q179_vector_compaction_policy",
      // THE VECTOR STORE UNDER THE MAINTENANCE TRIGGER — q174's
      // predicate on the store whose pending window is the most
      // expensive (the kNN anti-join between the coded scan and
      // shortlist scoring): a 10% takedown arms needsCompaction at the
      // 5% threshold (footer-counted delete markers vs stats-counted
      // admitted vectors — KBs, no corpus read), compactIfNeeded folds
      // the pending set away physically, the predicate goes quiet, and
      // post-fold search equals a FROM-SCRATCH store over the survivors
      // under the same index artifact — the full bounded-window story
      // for vector serving in one lifecycle. Search params are the q150
      // store-equality settings; both stores share centroids/books, so
      // equality is exact, not approximate.
      (s, d) => {
        val base = scratchDir("q179")
        val root = s"$base/vstore"
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val fit = emb.filter(col("vec_id") % 3 === 0)
        val index = fitIvfPq(fit)
        vectorStore(s, root, index, emb)
        val freshQuiet = !VectorStore.needsCompaction(s, root)
        VectorStore.admitDeletes(s, root,
          emb.filter(col("vec_id") % 10 === 2).select("vec_id"), "vec_id", 0L)
        val looseQuiet = !VectorStore.needsCompaction(s, root,
          maxPendingFraction = 0.5)
        val tightFires = VectorStore.needsCompaction(s, root,
          maxPendingFraction = 0.05)
        def served() = searchRows(s, root, q)
        val pending = served()
        // the from-scratch twin (survivors, same artifact, own root)
        // overlaps the policy fold and its gates (Par, guide §2.6)
        val ((fired, quietAfter, purged, postFold), cleanServed) = Par.both(
          {
            val fired = VectorStore.compactIfNeeded(s, root,
              maxPendingFraction = 0.05) == Some(2L)
            val quietAfter = !VectorStore.needsCompaction(s, root,
              maxPendingFraction = 0.05)
            val purged = noPendingDeletes(GenStore.genDir(root, 2L)) &&
              Tables.parquet(s, VectorStore.codedDir(root, 2L))
                .filter(col("cid") % 10 === 2).count() == 0L
            (fired, quietAfter, purged, served())
          },
          {
            val clean = s"$base/clean"
            vectorStore(s, clean, index, emb.filter(col("vec_id") % 10 =!= 2))
            searchRows(s, clean, q)
          })
        val stableAcrossFold = postFold == pending
        // the store is not mutated between the two post-fold reads, so
        // the same serve answers both gates (guide §1.2)
        val eqClean = postFold == cleanServed
        gateFrame(s, pending, "fresh_quiet" -> freshQuiet,
          "loose_threshold_quiet" -> looseQuiet,
          "tight_threshold_fires" -> tightFires, "policy_fired_gen2" -> fired,
          "quiet_after_fold" -> quietAfter, "pending_set_purged" -> purged,
          "serving_stable_across_fold" -> stableAcrossFold,
          "eq_survivor_store" -> eqClean)
      },
      Some(gateOracle(
        "TRUE AS fresh_quiet, TRUE AS loose_threshold_quiet",
        "TRUE AS tight_threshold_fires, TRUE AS policy_fired_gen2",
        "TRUE AS quiet_after_fold, TRUE AS pending_set_purged",
        "TRUE AS serving_stable_across_fold, TRUE AS eq_survivor_store"))),

    QDef("q180_maintenance_sweep",
      // THE MAINTENANCE TICK — q168's takedown cutover with the purge
      // compactions driven by POLICY instead of operator calls: one
      // generic sweep evaluates needsCompaction on every store behind
      // the manifest (the r13 predicate family, footer/KB-stat reads
      // only) and compacts exactly the stores whose pending-delete
      // fraction crossed the threshold — what a production scheduler
      // runs every tick without knowing which stores took deletions
      // this interval. The q168 discipline is inherited wholesale: pin
      // v1, ROLL each store a generation (deletes never touch a pinned
      // one), delete into the rolled generation, SWEEP, publish v2.
      // Gates: the sweep is quiet on the rolled-but-clean stores and
      // fires on all three once the deletes land (the decision comes
      // from the predicate, not the caller's knowledge); pending sets
      // are purged everywhere after one tick; v1 still serves the
      // pre-takedown index read bit for bit; nothing dead survives in
      // the v2 coded fragments. Emitted rows are v2's BM25 top-15 over
      // the clean-corpus closed form.
      (s, d) => {
        val base = scratchDir("q180")
        val iroot = base + "/istore"
        val vroot = base + "/vstore"
        val kroot = base + "/sigstore"
        val mroot = base + "/manifest"
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        // three disjoint store families: builds overlap (Par, §2.6), and
        // the signature pass runs ONCE (guide §1.2) — the takedown below
        // slices the same checkpointed key set
        val sigKeys = fleetStores(s, docs, emb, iroot, vroot, kroot, tokenized(docs))
        Manifest.init(mroot,
          Map("index" -> 1L, "vectors" -> 1L, "signatures" -> 1L))
        def bmAt(v: Long) = bm25Rows(pinnedBm25(s, iroot, mroot, v))
        val preBm = bmAt(1L)
        // ROLL off the pinned generations (pure compactions, disjoint roots)
        fleetCompact(s, iroot, vroot, kroot, 1L)
        // the sweep, as a production scheduler would run it: one
        // generic needsCompaction/compactIfNeeded pass per store
        // (disjoint roots — the per-store ticks overlap)
        val frac = 0.02
        def sweep(): Map[String, Option[Long]] = {
          val r = Par.all(Seq(
            () => InvertedIndex.compactIfNeeded(s, iroot,
              maxFragments = 1000, maxPendingFraction = frac),
            () => VectorStore.compactIfNeeded(s, vroot,
              maxFragments = 1000, maxPendingFraction = frac),
            () => KeySetStore.compactIfNeeded(s, kroot,
              maxFragments = 1000, maxPendingFraction = frac)))
          Map("index" -> r(0), "vectors" -> r(1), "signatures" -> r(2))
        }
        // clean stores: the tick is a no-op — the predicate, not the
        // caller, knows nothing is pending
        val quietOnClean = sweep().values.forall(_.isEmpty)
        // the takedown lands in the rolled generations
        fleetTakedown(s, docs, emb, sigKeys, iroot, vroot, kroot)
        // next tick: all three fire, to generation 3
        val fired = sweep()
        val firedAll = fired.values.forall(_ == Some(3L))
        // and the tick after that is quiet again — windows closed
        val quietAfter = sweep().values.forall(_.isEmpty)
        val v2 = Manifest.publish(mroot, expectedVersion = 1L,
          Map("index" -> 3L, "vectors" -> 3L, "signatures" -> 3L))
        val v1Stable = v2 == 2L && bmAt(1L) == preBm
        val vectorPurged = Tables.parquet(s, VectorStore.codedDir(vroot, 3L))
          .filter(col("cid") % 7 === 3).isEmpty && noPendingDeletes(GenStore.genDir(vroot, 3L))
        pinnedBm25(s, iroot, mroot, 2L)
          .withGates("tick_quiet_on_clean_stores" -> quietOnClean,
            "tick_fired_all_after_deletes" -> firedAll,
            "tick_quiet_after_purge" -> quietAfter,
            "v1_pre_takedown_stable" -> v1Stable, "vector_purged_at_v2" -> vectorPurged)
          .orderBy(col("bm25").desc, col("doc_id"))
      },
      Some(s"""${tokCte("doc_id % 7 <> 3")}${bm25Ctes("tok")}
              |SELECT doc_id,
              |  ${bm25Score()} AS bm25,
              |  TRUE AS tick_quiet_on_clean_stores,
              |  TRUE AS tick_fired_all_after_deletes,
              |  TRUE AS tick_quiet_after_purge,
              |  TRUE AS v1_pre_takedown_stable,
              |  TRUE AS vector_purged_at_v2
              |FROM p ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)),

    QDef("q181_store_health",
      // THE MAINTENANCE DASHBOARD — maintenanceStatus across the
      // delete-capable store family: one row per store of (generation,
      // fragments, data_rows, pending_rows, pending_fraction,
      // needs_compaction), the exact inputs the q174/q179 policy
      // predicates evaluate, exposed so a scheduler or an operator can
      // see WHY a maintenance tick will or won't fire. Every number is
      // engine-checkable: the index's data cardinality is its doclens
      // row count (one per doc), the vector store's is its admitted
      // n_vectors, and the signature store's is the distinct portable
      // band-key count the oracle recomputes from the q105 md5 closed
      // form — pending sides likewise (the dead docs' ids / distinct
      // band keys). Footer-count cost model: the dashboard frame runs
      // no Spark job over any store's data.
      (s, d) => {
        val base = scratchDir("q181")
        val iroot = base + "/istore"
        val vroot = base + "/vstore"
        val kroot = base + "/sigstore"
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        // three disjoint store families: builds overlap (Par, §2.6), and
        // the signature pass runs ONCE (guide §1.2) — the takedown below
        // slices the same checkpointed key set
        val sigKeys = fleetStores(s, docs, emb, iroot, vroot, kroot, tokenized(docs))
        fleetTakedown(s, docs, emb, sigKeys, iroot, vroot, kroot)
        InvertedIndex.maintenanceStatus(s, iroot)
          .withColumn("store", lit("index"))
          .unionByName(KeySetStore.maintenanceStatus(s, kroot)
            .withColumn("store", lit("signatures")))
          .unionByName(VectorStore.maintenanceStatus(s, vroot)
            .withColumn("store", lit("vectors")))
          .select(col("store"), col("generation"), col("fragments"),
            col("data_rows"), col("pending_rows"), col("pending_fraction"),
            col("needs_compaction"))
          .orderBy(col("store"))
      },
      Some(s"""${tokCte()}${bandKeyCtes()}, sigstore AS (
             |  SELECT CAST(count(DISTINCT band || '|' || bucket) AS BIGINT) AS data_rows
             |  FROM bnd
             |), sigdead AS (
             |  SELECT CAST(count(DISTINCT band || '|' || bucket) AS BIGINT) AS pending_rows
             |  FROM bnd WHERE doc_id % 7 = 3
             |), rows_ AS (
             |  SELECT 'index' AS store, CAST(1 AS BIGINT) AS generation,
             |    CAST(1 AS BIGINT) AS fragments,
             |    (SELECT CAST(count(*) AS BIGINT) FROM documents) AS data_rows,
             |    (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 7 = 3) AS pending_rows
             |  UNION ALL
             |  SELECT 'signatures', 1, 1,
             |    (SELECT data_rows FROM sigstore),
             |    (SELECT pending_rows FROM sigdead)
             |  UNION ALL
             |  SELECT 'vectors', 1, 1,
             |    (SELECT CAST(count(*) AS BIGINT) FROM embeddings),
             |    (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id % 7 = 3)
             |)
             |SELECT store, generation, fragments, data_rows, pending_rows,
             |  CAST(pending_rows AS DOUBLE) / data_rows AS pending_fraction,
             |  TRUE AS needs_compaction
             |FROM rows_ ORDER BY store""".stripMargin)),

    QDef("q182_video_curation",
      // MOTION-BASED VIDEO CURATION — q175's operator doing the job it
      // exists for: a mixed binary corpus (planted AVIs of three
      // temporal profiles plus non-video noise bytes) is filtered on
      // its MEASURED motion — drop static clips (every frame identical:
      // still_fraction 1, zero energy — the slideshow/test-pattern
      // content a video training set sheds first), drop
      // mostly-duplicated clips (still_fraction > 0.5 — note the
      // boundary profile lands EXACTLY at 0.5 for some frame counts and
      // must be kept, which both engines decide from the same integer
      // division), keep genuinely moving content. Noise bytes never
      // reach the filter (the parser drops them — web-corpus normality,
      // not failure). All emitted features are the exact grayscale
      // closed form (q175): integer δ² energies, one double division
      // per mean. One flatMap + one filter at any corpus size — the
      // decode cost IS the scan cost, no shuffle anywhere.
      (s, _) => {
        import s.implicits._
        val vids = (0 until 60).map { i =>
          val (w, h) = (8 + (i % 3) * 4, 8)
          val nf = 5 + (i / 4) % 4 // decoupled from the profile (i % 4)
          val frames = (0 until nf).map { f =>
            val g = if (i % 4 == 0) 0 else if (i % 4 == 1) f - f % 2 else f
            val c = (i * 5 + g * 9) % 256
            Multimodal.syntheticBmp(w, h)((_, _) => (c, c, c))
          }
          (i.toLong, AviContainer.syntheticAvi(w, h, 33333 + i, frames))
        } ++ (100 until 110).map(i =>
          (i.toLong, s"not a video payload $i".getBytes("UTF-8")))
        val corpus = vids.toDF("doc_id", "payload")
        Multimodal.extractMotionFeatures(corpus, "doc_id", "payload")
          .filter(col("still_fraction") <= 0.5 &&
            col("mean_diff_energy") >= 1.0)
          .select(col("id").as("doc_id"), col("n_frames"), col("n_pairs"),
            col("mean_diff_energy"), col("still_fraction"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH v AS (SELECT i, 5 + (i // 4) % 4 AS nf FROM range(0, 60) t(i)),
             |f AS (SELECT i, nf, unnest(range(0, nf)) AS f FROM v),
             |c AS (SELECT i, nf, f,
             |        (i * 5 + (CASE WHEN i % 4 = 0 THEN 0
             |                       WHEN i % 4 = 1 THEN f - f % 2
             |                       ELSE f END) * 9) % 256 AS lvl
             |      FROM f),
             |p AS (SELECT a.i, a.nf,
             |        CAST((b.lvl - a.lvl) * (b.lvl - a.lvl) AS DOUBLE) AS e
             |      FROM c a JOIN c b ON a.i = b.i AND b.f = a.f + 1),
             |m AS (SELECT i, CAST(any_value(nf) AS BIGINT) AS n_frames,
             |        CAST(count(*) AS BIGINT) AS n_pairs,
             |        sum(e) / count(*) AS mean_diff_energy,
             |        CAST(count(CASE WHEN e = 0 THEN 1 END) AS DOUBLE) / count(*)
             |          AS still_fraction
             |      FROM p GROUP BY i)
             |SELECT CAST(i AS BIGINT) AS doc_id, n_frames, n_pairs,
             |  mean_diff_energy, still_fraction
             |FROM m
             |WHERE still_fraction <= 0.5 AND mean_diff_energy >= 1.0
             |ORDER BY doc_id""".stripMargin)),

    QDef("q183_audio_curation",
      // AUDIO CURATION — the third modality of the measured-feature
      // curation family (text q153, video q182): a mixed binary corpus
      // of planted WAVs is filtered on DECODED signal statistics — rms
      // below the floor drops silence (zero samples: the dead-air
      // recordings an audio training set sheds first), zero
      // zero-crossing rate drops DC hum (constant-offset samples: a
      // live level but no signal dynamics), and genuine waveforms
      // survive; non-audio noise bytes never reach the filter (the JDK
      // parser drops them). Every emitted feature is the q82 closed
      // form — a square wave of integer amplitude A has rms EXACTLY
      // A/32768 and floor((n-1)/half) sign transitions — so the
      // curation decision itself is recomputed by the oracle from the
      // same arithmetic, thresholds and all. One narrow flatMap + one
      // filter at any corpus size.
      (s, _) => {
        import s.implicits._
        val clips = (0 until 64).map { i =>
          val n = 600 + i
          val half = 1 + i % 8
          val amp = 512 * (1 + i % 30)
          val gen: Int => Short = i % 4 match {
            case 0 => _ => 0.toShort                     // silence
            case 1 => _ => amp.toShort                   // DC hum
            case _ => idx =>
              (if ((idx / half) % 2 == 0) amp else -amp).toShort
          }
          (i.toLong, Multimodal.syntheticWav(8000 + 100 * i, n)(gen))
        } ++ (100 until 110).map(i =>
          (i.toLong, s"not an audio payload $i".getBytes("UTF-8")))
        val corpus = clips.toDF("doc_id", "payload")
        Multimodal.extractAudioFeatures(corpus, "doc_id", "payload")
          .filter(col("rms") >= 0.01 && col("zcr") > 0.0)
          .select(col("id").as("doc_id"), col("n_samples"), col("rms"),
            col("zcr"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH clips AS (
             |  SELECT i, 600 + i AS n, 1 + i % 8 AS half,
             |    CASE WHEN i % 4 = 0 THEN 0
             |         ELSE 512 * (1 + i % 30) END AS amp,
             |    i % 4 AS profile
             |  FROM range(0, 64) t(i)
             |), feats AS (
             |  SELECT i, CAST(n AS BIGINT) AS n_samples,
             |    CAST(amp AS DOUBLE) / 32768.0 AS rms,
             |    CASE WHEN profile <= 1 THEN 0.0
             |         ELSE CAST((n - 1) // half AS DOUBLE) / (n - 1) END AS zcr
             |  FROM clips
             |)
             |SELECT CAST(i AS BIGINT) AS doc_id, n_samples, rms, zcr
             |FROM feats
             |WHERE rms >= 0.01 AND zcr > 0.0
             |ORDER BY doc_id""".stripMargin)),

    QDef("q184_multimodal_curation",
      // THE MULTIMODAL CURATION CAPSTONE — one mixed binary corpus
      // (images, audio, video, opaque noise, exactly how a web crawl's
      // media column arrives) routed by container magic (q108) and
      // curated per modality on MEASURED decoded features: images drop
      // when tiny (area < 48) or too dark (red mean < 16 — planted
      // grayscale levels are odd integers, so the threshold can never
      // tie); audio drops silence and DC hum (q183 rules); video drops
      // static and mostly-duplicated clips (q182 motion rules, exact
      // grayscale δ² closed form); noise bytes are dropped by the
      // decoders themselves. The emitted retained manifest (doc_id,
      // kind) is recomputed end to end by the oracle from the planted
      // closed forms — routing, decode arithmetic, thresholds, and all.
      // At 100 TB: two narrow flatMaps over the binary scan (feature
      // route + motion pass), three filters, a union — no shuffle
      // before the final order.
      (s, _) => {
        import s.implicits._
        val images = (0 until 24).map { i =>
          val (w, h) = (4 + (i % 5) * 2, 4 + (i % 4) * 2)
          val c = (i * 12 + 1) % 256
          (i.toLong, Multimodal.syntheticBmp(w, h)((_, _) => (c, c, c)))
        }
        val audio = (0 until 24).map { i =>
          val n = 400 + i
          val half = 1 + i % 6
          val amp = 512 * (1 + i % 20)
          val gen: Int => Short = i % 4 match {
            case 0 => _ => 0.toShort
            case 1 => _ => amp.toShort
            case _ => idx =>
              (if ((idx / half) % 2 == 0) amp else -amp).toShort
          }
          (100L + i, Multimodal.syntheticWav(8000 + 50 * i, n)(gen))
        }
        val video = (0 until 20).map { i =>
          val nf = 4 + (i / 4) % 3
          val frames = (0 until nf).map { f =>
            val g = if (i % 4 == 0) 0 else if (i % 4 == 1) f - f % 2 else f
            val c = (i * 5 + g * 9) % 256
            Multimodal.syntheticBmp(6, 6)((_, _) => (c, c, c))
          }
          (200L + i, AviContainer.syntheticAvi(6, 6, 40000 + i, frames))
        }
        val noise = (300 until 310).map(i =>
          (i.toLong, s"no container magic here $i".getBytes("UTF-8")))
        val corpus = (images ++ audio ++ video ++ noise)
          .toDF("doc_id", "payload")
        val feats = Multimodal.extractFeatures(corpus, "doc_id", "payload")
        val keptImages = feats.filter(col("kind") === "image" &&
            col("width").cast("long") * col("height") >= 48L &&
            element_at(col("feature"), 1) >= 16.0)
          .select(col("id").as("doc_id"), col("kind"))
        val keptAudio = feats.filter(col("kind") === "audio" &&
            element_at(col("feature"), 1) >= 0.01 &&
            element_at(col("feature"), 2) > 0.0)
          .select(col("id").as("doc_id"), col("kind"))
        val keptVideo = Multimodal
          .extractMotionFeatures(corpus, "doc_id", "payload")
          .filter(col("still_fraction") <= 0.5 &&
            col("mean_diff_energy") >= 1.0)
          .select(col("id").as("doc_id"), lit("video").as("kind"))
        keptImages.unionByName(keptAudio).unionByName(keptVideo)
          .orderBy(col("doc_id"))
      },
      Some("""WITH img AS (
             |  SELECT CAST(i AS BIGINT) AS doc_id, 'image' AS kind,
             |    (4 + (i % 5) * 2) * (4 + (i % 4) * 2) AS area,
             |    (i * 12 + 1) % 256 AS c
             |  FROM range(0, 24) t(i)
             |), imgk AS (
             |  SELECT doc_id, kind FROM img WHERE area >= 48 AND c >= 16
             |), aud AS (
             |  SELECT CAST(100 + i AS BIGINT) AS doc_id, 'audio' AS kind,
             |    400 + i AS n, 1 + i % 6 AS half, i % 4 AS profile,
             |    CASE WHEN i % 4 = 0 THEN 0 ELSE 512 * (1 + i % 20) END AS amp
             |  FROM range(0, 24) t(i)
             |), audk AS (
             |  SELECT doc_id, kind FROM aud
             |  WHERE CAST(amp AS DOUBLE) / 32768.0 >= 0.01
             |    AND (CASE WHEN profile <= 1 THEN 0.0
             |         ELSE CAST((n - 1) // half AS DOUBLE) / (n - 1) END) > 0.0
             |), vv AS (
             |  SELECT i, 4 + (i // 4) % 3 AS nf FROM range(0, 20) t(i)
             |), vf AS (
             |  SELECT i, nf, unnest(range(0, nf)) AS f FROM vv
             |), vc AS (
             |  SELECT i, f,
             |    (i * 5 + (CASE WHEN i % 4 = 0 THEN 0
             |                   WHEN i % 4 = 1 THEN f - f % 2
             |                   ELSE f END) * 9) % 256 AS lvl
             |  FROM vf
             |), vp AS (
             |  SELECT a.i, CAST((b.lvl - a.lvl) * (b.lvl - a.lvl) AS DOUBLE) AS e
             |  FROM vc a JOIN vc b ON a.i = b.i AND b.f = a.f + 1
             |), vm AS (
             |  SELECT i, sum(e) / count(*) AS mean_e,
             |    CAST(count(CASE WHEN e = 0 THEN 1 END) AS DOUBLE) / count(*)
             |      AS still
             |  FROM vp GROUP BY i
             |), vidk AS (
             |  SELECT CAST(200 + i AS BIGINT) AS doc_id, 'video' AS kind
             |  FROM vm WHERE still <= 0.5 AND mean_e >= 1.0
             |)
             |SELECT doc_id, kind FROM imgk
             |UNION ALL SELECT doc_id, kind FROM audk
             |UNION ALL SELECT doc_id, kind FROM vidk
             |ORDER BY doc_id""".stripMargin)),

    QDef("q185_mergeable_health",
      // q181's maintenance dashboard extended across the MERGEABLE
      // stores (sketches / frequencies / quantiles): none has a delete
      // surface (HLL registers and MG counters are irreversible —
      // their takedown contract is the q176/q177 scoped rebuild; a
      // quantile retraction is an ordinary DATA fragment, q166), so
      // the dashboard states a structurally-zero pending side and the
      // fragment-leg predicate. Every data cardinality is structural
      // and engine-checkable: a sketch fragment holds one row per key
      // present in its batch, an MG fragment one row per surviving
      // counter (m exceeds the key cardinality here, so every key),
      // and a quantile fragment one row per (key, bin) populated —
      // the oracle recomputes all three from COUNT(DISTINCT ...) over
      // the same batch split. Scale-invariant by construction: the
      // row counts depend on key/bin structure, not event volume.
      (s, d) => {
        val base = scratchDir("q185")
        val ev = t(s, d, "events")
        val sroot = s"$base/sketch"
        val hroot = s"$base/freq"
        val qroot = s"$base/quant"
        SketchStore.initStore(sroot)
        HeavyHitters.initStore(hroot)
        QuantileStore.initStore(qroot)
        (0L to 1L).foreach { b =>
          val half = ev.filter(pmod(col("event_id"), lit(2)) === b)
          SketchStore.admitBatch(s, half, Seq("event_type"), "user_id",
            b, sroot)
          HeavyHitters.admitBatch(s,
            half.select(col("event_type").as("k")), "k", 64, b, hroot)
          QuantileStore.admitBatch(s,
            half.select(col("event_type"),
              (col("user_id") % 10 + 1).cast("double").as("v")),
            Seq("event_type"), "v", lo = 1.0, width = 1.0, nbins = 10,
            batchId = b, root = qroot)
        }
        SketchStore.maintenanceStatus(s, sroot, maxFragments = 2)
          .withColumn("store", lit("sketch"))
          .unionByName(HeavyHitters.maintenanceStatus(s, hroot,
              maxFragments = 2)
            .withColumn("store", lit("frequency")))
          .unionByName(QuantileStore.maintenanceStatus(s, qroot,
              maxFragments = 2)
            .withColumn("store", lit("quantile")))
          .select(col("store"), col("generation"), col("fragments"),
            col("data_rows"), col("pending_rows"), col("needs_compaction"))
          .orderBy(col("store"))
      },
      Some("""WITH halves AS (
             |  SELECT DISTINCT event_type, event_id % 2 AS h FROM events
             |), bins AS (
             |  SELECT DISTINCT event_type, user_id % 10 AS bin,
             |    event_id % 2 AS h
             |  FROM events
             |), rows_ AS (
             |  SELECT 'frequency' AS store,
             |    (SELECT CAST(count(*) AS BIGINT) FROM halves) AS data_rows
             |  UNION ALL
             |  SELECT 'quantile',
             |    (SELECT CAST(count(*) AS BIGINT) FROM bins)
             |  UNION ALL
             |  SELECT 'sketch',
             |    (SELECT CAST(count(*) AS BIGINT) FROM halves)
             |)
             |SELECT store, CAST(1 AS BIGINT) AS generation,
             |  CAST(2 AS BIGINT) AS fragments, data_rows,
             |  CAST(0 AS BIGINT) AS pending_rows,
             |  TRUE AS needs_compaction
             |FROM rows_ ORDER BY store""".stripMargin)),

    QDef("q187_index_retention",
      // AGE-OUT RETENTION on the retrieval index — the TIME-based
      // sibling of the takedown surface (InvertedIndex.expireBatches):
      // a three-batch index drops its oldest batch whole at the
      // retention watermark, and post-expiry BM25 serving is
      // bit-identical to an index that never saw the aged-out docs —
      // the ORACLE recomputes the scores from the surviving corpus
      // (doc_id % 3 <> 0) end to end, so N/avgdl/df shrinking exactly
      // is what the hash compare proves. Lifecycle gates: the stats
      // row counts exactly the survivors; replaying the EXPIRED batch
      // id is refused (the seal covers dropped ids — resurrecting
      // aged-out docs via replay is the failure mode); and the
      // aged-out CONTENT re-enters as a new admission under a fresh
      // batch id — retention forgets the data, not the ability to
      // re-ingest it. Granularity is the fragment (the partition-drop
      // stance of every LSM store): expiry is itself a compaction, so
      // the dropped fragments are never read and the survivors fold in
      // the same pass.
      (s, d) => {
        val root = scratchDir("q187") + "/istore"
        val docs = t(s, d, "documents")
        val toks = tokenized(docs)
        indexStore(s, root, (0L to 2L).map(b => toks.filter(pmod(col("doc_id"), lit(3)) === b)): _*)
        val gen2 = InvertedIndex.expireBatches(s, root, expectedGen = 1L,
          minRetainedBatch = 1L)
        // post-expiry serving, pinned before the re-admission probe
        val served = bm25Rows(InvertedIndex.bm25SearchCurrent(s, root, bm25Terms, 15))
        val nSurv = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0).count()
        val statsShrunk = Tables.parquet(s,
            InvertedIndex.genDir(root, gen2) + "/stats")
          .agg(sum(col("n_docs"))).head.getLong(0) == nSurv
        val replayRefused = refuses("seal") {
          admitDocs(s, toks.filter(pmod(col("doc_id"), lit(3)) === 0), 0L, root)
        }
        admitDocs(s, toks.filter(pmod(col("doc_id"), lit(3)) === 0), 10L, root)
        val readmitted = Tables.parquet(s,
            InvertedIndex.genDir(root, gen2) + "/doclens")
          .filter(pmod(col("doc_id"), lit(3)) === 0).count() > 0
        import s.implicits._
        served.toDF("doc_id", "bm25")
          .withGates("gen_rolled" -> (gen2 == 2L),
            "stats_shrunk_to_survivors" -> statsShrunk,
            "expired_replay_refused" -> replayRefused,
            "expired_content_readmitted" -> readmitted)
          .orderBy(col("bm25").desc, col("doc_id"))
      },
      Some(s"""${tokCte("doc_id % 3 <> 0")}${bm25Ctes("tok")}
              |SELECT doc_id,
              |  ${bm25Score()} AS bm25,
              |  TRUE AS gen_rolled,
              |  TRUE AS stats_shrunk_to_survivors,
              |  TRUE AS expired_replay_refused,
              |  TRUE AS expired_content_readmitted
              |FROM p ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)),

    QDef("q188_signature_retention",
      // AGE-OUT RETENTION on the dedup memory (KeySetStore
      // .expireBatches) — the re-crawl policy: signatures older than
      // the watermark are forgotten so stale content can RE-ENTER the
      // corpus (a page deduped against a years-old snapshot of itself
      // must be admittable when it returns). An old crawl (batch 0,
      // doc_id % 3 = 0) and a newer one (batch 1, % 3 = 1) are
      // admitted; pre-expiry, probing the old crawl rejects every doc
      // as its own clone (the staleness the policy exists to end);
      // expiry drops batch 0's keys whole, and the post-expiry probe —
      // the emitted frame — admits old-crawl docs unless they collide
      // with the SURVIVING crawl's band keys, which the oracle
      // recomputes key for key from the q105 portable-md5 closed form
      // (store = batch-1 docs' distinct band keys only). The expired
      // batch id is sealed against replay; the re-crawl lands under a
      // fresh id.
      (s, d) => {
        val root = scratchDir("q188") + "/sigstore"
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val old = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        val newer = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
        // ONE signature pass over both crawl batches (guide §1.2, the
        // q165 pattern) — admits, probes, and the replay attempt slice
        // this checkpointed key set
        val sigKeys = signatureKeys(docs.filter(pmod(col("doc_id"), lit(3)) < 2))
        val oldKeys = sigKeys.filter(pmod(col("id"), lit(3)) === 0)
        signatureStore(root, oldKeys, sigKeys.filter(pmod(col("id"), lit(3)) === 1))
        def probeOld() = admitDecisions(old.select(col("doc_id").as("id")), oldKeys, root)
        // docs with shingles reject as their own clones pre-expiry
        // (shingle-less docs have no keys to hit and always admit)
        val withKeys = old.filter(
          size(TextFunctions.tokens(col("text"))) >= 3)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val preRejects = probeOld()
          .forall(r => r._2 == !withKeys.contains(r._1))
        val gen2 = KeySetStore.expireBatches(s, root, expectedGen = 1L,
          minRetainedBatch = 1L)
        val replayRefused = refuses("seal") {
          Dedup.admitMinHashKeysBatch(oldKeys, batchId = 0L, root = root)
        }
        decisionFrame(old.select(col("doc_id").as("id")), oldKeys, root)
          .withGates("gen_rolled" -> (gen2 == 2L),
            "pre_expiry_self_rejected" -> preRejects,
            "expired_replay_refused" -> replayRefused)
          .orderBy(col("doc_id"))
      },
      Some(s"""${tokCte()}${bandKeyCtes()}, store AS (
             |  SELECT DISTINCT band, bucket FROM bnd WHERE doc_id % 3 = 1
             |), hits AS (
             |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS hit_bands
             |  FROM bnd b JOIN store s ON b.band = s.band AND b.bucket = s.bucket
             |  WHERE b.doc_id % 3 = 0
             |  GROUP BY b.doc_id
             |)
             |SELECT d.doc_id,
             |  CAST(coalesce(h.hit_bands, 0) AS BIGINT) AS hit_bands,
             |  coalesce(h.hit_bands, 0) = 0 AS admit,
             |  TRUE AS gen_rolled,
             |  TRUE AS pre_expiry_self_rejected,
             |  TRUE AS expired_replay_refused
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
             |LEFT JOIN hits h USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    QDef("q190_index_federation",
      // FEDERATION MERGE on the retrieval index (InvertedIndex
      // .mergeStores) — the scale-out ingestion pattern: the crawl is
      // PARTITIONED across two independent builders (no coordination,
      // each runs the ordinary admit lifecycle on its own root; builder
      // B also takes a pending takedown), and the finished stores merge
      // into one serving store with one narrow copy pass per fragment —
      // no shuffle, no re-tokenization, stats ride as the per-fragment
      // rows the read already sums. The emitted BM25 top-15 is the
      // ORACLE's recomputation over the union corpus MINUS the taken-
      // down docs: the merged store serves as if one pipeline had
      // ingested everything, pending delete included. Gates: merged
      // serving equals a single-store twin admitted with all four
      // batches and the same delete (bit-identical rows); the merge
      // seals its occupied ids (an admission reusing one is refused);
      // a fresh admission under a higher id lands.
      (s, d) => {
        val base = scratchDir("q190")
        val docs = t(s, d, "documents")
        val toks = tokenized(docs)
        val deadPred = col("doc_id") % 4 >= 2 && col("doc_id") % 7 === 3
        val (ra, rb, twin, merged) =
          (s"$base/a", s"$base/b", s"$base/twin", s"$base/merged")
        def bm(r: String) = bm25Rows(InvertedIndex.bm25SearchCurrent(s, r, bm25Terms, 15))
        def quarter(b: Long) = toks.filter(pmod(col("doc_id"), lit(4)) === b)
        // builder A, builder B, and the single-pipeline twin own disjoint
        // roots with zero coordination (the query's premise) — the merge
        // leg waits only on the builders while the twin runs through
        // (Par, guide §2.6); each store's internal batch order unchanged
        def mergedSection(): (Seq[(Long, Double)], Boolean) = {
          Par.both(
            indexStore(s, ra, quarter(0L), quarter(1L)),
            {
              indexStore(s, rb, quarter(2L), quarter(3L))
              InvertedIndex.admitDeleteBatch(s,
                docs.filter(deadPred).select("doc_id"), "doc_id", 0L, rb)
            })
          InvertedIndex.mergeStores(s, Seq(ra, rb), merged)
          val mergedBm = bm(merged)
          val sealRefused = refuses("seal") { admitDocs(s, quarter(0L), 0L, merged) }
          (mergedBm, sealRefused)
        }
        def twinSection(): Seq[(Long, Double)] = {
          indexStore(s, twin, (0L to 3L).map(quarter): _*)
          InvertedIndex.admitDeleteBatch(s,
            docs.filter(deadPred).select("doc_id"), "doc_id", 0L, twin)
          bm(twin)
        }
        val ((mergedBm, sealRefused), twinBm) =
          Par.both(mergedSection(), twinSection())
        val eqTwin = mergedBm == twinBm
        InvertedIndex.bm25SearchCurrent(s, merged, bm25Terms, 15)
          .withGates("merged_eq_single_pipeline" -> eqTwin,
            "occupied_id_sealed" -> sealRefused)
          .orderBy(col("bm25").desc, col("doc_id"))
      },
      Some(s"""WITH tok AS (
              |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
              |  FROM documents
              |  WHERE NOT (doc_id % 4 >= 2 AND doc_id % 7 = 3)
              |)${bm25Ctes("tok")}
              |SELECT doc_id,
              |  ${bm25Score()} AS bm25,
              |  TRUE AS merged_eq_single_pipeline,
              |  TRUE AS occupied_id_sealed
              |FROM p ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)),

    QDef("q191_signature_federation",
      // FEDERATION MERGE on the dedup memory (KeySetStore.mergeStores):
      // two crawl partitions build signature stores INDEPENDENTLY
      // (doc_id % 3 = 0 and % 3 = 1), merge into one memory, and the
      // emitted frame is the NEXT crawl batch's admission probe
      // (doc_id % 3 = 2, never admitted anywhere) against the merged
      // store — a doc admits unless its band keys collide with EITHER
      // partition's keys, which the oracle recomputes key for key from
      // the portable-md5 closed form (store = both partitions' distinct
      // band keys). Gates: merged decisions equal a single-store twin
      // that admitted both partitions; the merge seals its occupied
      // ids against replay.
      (s, d) => {
        val base = scratchDir("q191")
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val pa = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        val pb = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
        val probe = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
        val (ra, rb, twin, merged) =
          (s"$base/a", s"$base/b", s"$base/twin", s"$base/merged")
        // ONE signature pass for all three partitions (guide §1.2): the
        // q165 pattern — each admit/probe below slices this checkpointed
        // key set by doc id
        val keys = signatureKeys(docs)
        val kA = keys.filter(pmod(col("id"), lit(3)) === 0)
        val kB = keys.filter(pmod(col("id"), lit(3)) === 1)
        val kP = keys.filter(pmod(col("id"), lit(3)) === 2)
        val probeIds = probe.select(col("doc_id").as("id"))
        signatureStore(ra, kA)
        signatureStore(rb, kB)
        KeySetStore.mergeStores(s, Seq(ra, rb), merged)
        signatureStore(twin, kA, kB)
        def dec(r: String) = admitDecisions(probeIds, kP, r)
        val eqTwin = dec(merged) == dec(twin)
        val sealRefused = refuses("seal") {
          Dedup.admitMinHashKeysBatch(kA, batchId = 0L, root = merged)
        }
        decisionFrame(probeIds, kP, merged)
          .withGates("merged_eq_single_pipeline" -> eqTwin,
            "occupied_id_sealed" -> sealRefused)
          .orderBy(col("doc_id"))
      },
      Some(s"""${tokCte()}${bandKeyCtes()}, store AS (
             |  SELECT DISTINCT band, bucket FROM bnd WHERE doc_id % 3 IN (0, 1)
             |), hits AS (
             |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS hit_bands
             |  FROM bnd b JOIN store s ON b.band = s.band AND b.bucket = s.bucket
             |  WHERE b.doc_id % 3 = 2
             |  GROUP BY b.doc_id
             |)
             |SELECT d.doc_id,
             |  CAST(coalesce(h.hit_bands, 0) AS BIGINT) AS hit_bands,
             |  coalesce(h.hit_bands, 0) = 0 AS admit,
             |  TRUE AS merged_eq_single_pipeline,
             |  TRUE AS occupied_id_sealed
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 2) d
             |LEFT JOIN hits h USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    QDef("q192_vector_federation",
      // FEDERATION MERGE on the vector store (VectorStore.mergeStores)
      // — FIT ONCE, ENCODE IN K PARTITIONS, MERGE: both builders were
      // initialized with the SAME IVF-PQ artifact and encoded disjoint
      // halves of the corpus independently (builder B also took a
      // pending takedown); the merge copies coded+stats fragments (no
      // re-encode, no shuffle) and the merged search equals a single
      // pipeline that admitted everything — including the carried
      // pending delete. Artifact equality is CHECKED: merging a store
      // fit on different centroids is REFUSED loudly (coded rows are
      // not comparable across artifacts — that case needs a refit).
      // After one compaction the carried takedown purges physically
      // and serving is stable across the fold.
      (s, d) => {
        val base = scratchDir("q192")
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val index = fitIvfPq(emb.filter(col("vec_id") % 3 === 0))
        val (ra, rb, twin, merged) =
          (s"$base/a", s"$base/b", s"$base/twin", s"$base/merged")
        val pa = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
        val pb = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
        val deadIds = emb.filter(pmod(col("vec_id"), lit(2)) === 1 &&
          col("vec_id") % 7 === 3).select("vec_id")
        // The two builders encode disjoint halves into disjoint roots with
        // zero coordination — the query's own premise — so their admission
        // jobs overlap (Par, guide §2.6); each store's internal batch order
        // is unchanged.
        Par.both(
          vectorStore(s, ra, index, pa),
          { vectorStore(s, rb, index, pb)
            VectorStore.admitDeletes(s, rb, deadIds, "vec_id", 0L) })
        def served(r: String) = storeSearch(s, r, q)
          .collect().toSeq
          .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
        // Three independent sections over finalized builders: the merged
        // store's lifecycle, the single-pipeline twin, and the alien-artifact
        // refusal (reads only the finalized ra plus its own fit). Disjoint
        // roots, no exchanged values — results identical to the sequential
        // order.
        def mergedSection(): (Seq[(Long, Long, Long, Double)], Boolean, Boolean) = {
          VectorStore.mergeStores(s, Seq(ra, rb), merged)
          val pending = served(merged)
          VectorStore.compactGen(s, merged, expectedGen = 1L)
          val purged = Tables.parquet(s, VectorStore.codedDir(merged, 2L))
            .join(deadIds.withColumnRenamed("vec_id", "cid"), Seq("cid"),
              "left_semi").isEmpty && noPendingDeletes(GenStore.genDir(merged, 2L))
          val stableAcrossFold = served(merged) == pending
          (pending, purged, stableAcrossFold)
        }
        def twinSection(): Seq[(Long, Long, Long, Double)] = {
          vectorStore(s, twin, index, pa, pb)
          VectorStore.admitDeletes(s, twin, deadIds, "vec_id", 0L)
          served(twin)
        }
        def alienSection(): Boolean = {
          val (c2, b2) = fitIvfPq(emb.filter(col("vec_id") % 3 === 1), kmeansIters = 2)
          val alien = s"$base/alien"
          VectorStore.init(s, alien, c2, b2)
          refuses("artifact") { VectorStore.mergeStores(s, Seq(ra, alien), s"$base/bad") }
        }
        val ((pending, purged, stableAcrossFold), (twinServed, mismatchRefused)) =
          Par.both(mergedSection(), Par.both(twinSection(), alienSection()))
        val eqTwin = pending == twinServed
        gateFrame(s, pending, "merged_eq_single_pipeline" -> eqTwin,
          "alien_artifact_refused" -> mismatchRefused,
          "takedown_purged_after_fold" -> purged,
          "serving_stable_across_fold" -> stableAcrossFold)
      },
      Some(gateOracle(
        "TRUE AS merged_eq_single_pipeline",
        "TRUE AS alien_artifact_refused",
        "TRUE AS takedown_purged_after_fold",
        "TRUE AS serving_stable_across_fold"))),

    QDef("q193_mergeable_federation",
      // FEDERATION across the MERGEABLE family (sketch / frequency /
      // quantile, GenStore.mergeFlatStores): these stores' reads ALREADY
      // union fragments by algebra (register max / MG merge / bin-count
      // sum), so two builders' stores merged by fragment copies answer
      // EXACTLY like one pipeline — the defining mergeability property,
      // now exercised across store roots, not just batches. Emitted per
      // event type: the merged frequency count (MG exact here, m
      // exceeds the cardinality — the oracle recomputes it as count(*)),
      // merged p50/p95 over the integral user_id%10+1 domain (exact
      // integer-rank order statistics the oracle recomputes in window
      // SQL), and the merged HLL estimate within the q148 band of the
      // exact distinct count; the three merged==single-pipeline gates
      // are collected equalities.
      (s, d) => {
        val base = scratchDir("q193")
        val ev = t(s, d, "events")
        val half = (h: Long) => ev.filter(pmod(col("event_id"), lit(2)) === h)
        val qs = Seq(("p50", 1, 2), ("p95", 19, 20))
        val v = (df: org.apache.spark.sql.DataFrame) => df.select(
          col("event_type"), (col("user_id") % 10 + 1).cast("double").as("v"))
        // builders (one batch each), twin (both batches), merged
        val (sa, sb, sm, st) = (s"$base/sa", s"$base/sb", s"$base/sm", s"$base/st")
        val (ha, hb, hm, ht) = (s"$base/ha", s"$base/hb", s"$base/hm", s"$base/ht")
        val (qa, qb, qm, qt) = (s"$base/qa", s"$base/qb", s"$base/qm", s"$base/qt")
        Seq(sa, sb, st).foreach(SketchStore.initStore)
        Seq(ha, hb, ht).foreach(HeavyHitters.initStore)
        Seq(qa, qb, qt).foreach(QuantileStore.initStore)
        Seq(0L, 1L).foreach { h =>
          val r = Seq(sa, sb)(h.toInt)
          SketchStore.admitBatch(s, half(h), Seq("event_type"), "user_id", 0L, r)
          HeavyHitters.admitBatch(s, half(h), "event_type", 64, 0L,
            Seq(ha, hb)(h.toInt))
          QuantileStore.admitBatch(s, v(half(h)), Seq("event_type"), "v",
            lo = 1.0, width = 1.0, nbins = 10, batchId = 0L,
            root = Seq(qa, qb)(h.toInt))
          SketchStore.admitBatch(s, half(h), Seq("event_type"), "user_id", h, st)
          HeavyHitters.admitBatch(s, half(h), "event_type", 64, h, ht)
          QuantileStore.admitBatch(s, v(half(h)), Seq("event_type"), "v",
            lo = 1.0, width = 1.0, nbins = 10, batchId = h, root = qt)
        }
        SketchStore.mergeStores(s, Seq(sa, sb), sm)
        HeavyHitters.mergeStores(s, Seq(ha, hb), hm)
        QuantileStore.mergeStores(s, Seq(qa, qb), qm)
        def hits(r: String) = HeavyHitters.hittersCurrent(s, r, 64)
          .collect().toSeq.map(x => (x.getString(0), x.getLong(1))).sorted
        def quants(r: String) = QuantileStore.quantilesCurrent(s, r,
            Seq("event_type"), qs, lo = 1.0, width = 1.0)
          .collect().toSeq.map(_.toString).sorted
        val skEq = sketchEstimates(s, sm) == sketchEstimates(s, st)
        val hhEq = hits(hm) == hits(ht)
        val qEq = quants(qm) == quants(qt)
        HeavyHitters.hittersCurrent(s, hm, 64)
          .select(col("key").as("event_type"), col("est").as("freq"))
          .join(QuantileStore.quantilesCurrent(s, qm, Seq("event_type"), qs,
            lo = 1.0, width = 1.0), "event_type")
          .join(SketchStore.estimatesCurrent(s, sm, Seq("event_type"))
            .select(col("event_type"), col("est").as("distinct_est")),
            "event_type")
          .join(ev.groupBy(col("event_type"))
            .agg(count_distinct(col("user_id")).cast("long").as("n_exact")),
            "event_type")
          .select(col("event_type"), col("freq"), col("p50"), col("p95"),
            (abs(col("distinct_est") - col("n_exact")).cast("double")
              <= col("n_exact") * 0.05).as("sketch_within_5pct"))
          .withGates("freq_merged_eq_single_pipeline" -> hhEq,
            "quantile_merged_eq_single_pipeline" -> qEq,
            "sketch_merged_eq_single_pipeline" -> skEq)
          .orderBy(col("event_type"))
      },
      Some("""WITH c AS (
             |  SELECT event_type, user_id % 10 + 1 AS v, count(*) AS cnt
             |  FROM events GROUP BY 1, 2
             |), w AS (
             |  SELECT event_type, v,
             |    sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
             |    sum(cnt) OVER (PARTITION BY event_type) AS n
             |  FROM c
             |), q AS (
             |  SELECT event_type,
             |    CAST(min(CASE WHEN cum >= (n*1 + 1) // 2 THEN v END) AS DOUBLE) AS p50,
             |    CAST(min(CASE WHEN cum >= (n*19 + 19) // 20 THEN v END) AS DOUBLE) AS p95
             |  FROM w GROUP BY event_type
             |)
             |SELECT e.event_type, CAST(count(*) AS BIGINT) AS freq,
             |  any_value(q.p50) AS p50, any_value(q.p95) AS p95,
             |  TRUE AS sketch_within_5pct,
             |  TRUE AS freq_merged_eq_single_pipeline,
             |  TRUE AS quantile_merged_eq_single_pipeline,
             |  TRUE AS sketch_merged_eq_single_pipeline
             |FROM events e JOIN q USING (event_type)
             |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    QDef("q194_federated_fleet",
      // THE FEDERATION CAPSTONE — a MERGED fleet lives the full
      // lifecycle: two independent builder fleets (index + signature +
      // vector, the vector legs encoding under ONE shared artifact)
      // each ingest half the corpus with zero coordination; one
      // federation tick merges all three families and publishes the
      // result as manifest v1. Then the q180 operational discipline
      // runs ON THE MERGED STORES unchanged — pin v1, roll each store a
      // generation, land a takedown, let the needsCompaction POLICY
      // sweep the purges, publish v2 — proving federation composes
      // with everything downstream: policy maintenance, manifest
      // pinning, takedown. Gates: the sweep is quiet on the rolled
      // clean stores and fires on all three after the deletes; v1
      // still serves the pre-takedown read bit for bit; nothing dead
      // survives v2's coded fragments. Emitted rows are v2's BM25
      // top-15 over the clean-corpus closed form the oracle recomputes.
      (s, d) => {
        val base = scratchDir("q194")
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val toks = tokenized(docs)
        // The IVF-PQ fit reads only embeddings, the signature pass only
        // documents — independent jobs, overlapped (Par, guide §2.6). The
        // signature pass runs ONCE for both fleets AND the takedown (guide
        // §1.2, the q165 pattern): admits and the delete below slice the
        // checkpointed key set by doc id.
        val (index, sigKeys) = Par.both(fitIvfPq(emb, kmeansIters = 2, m = 8),
          signatureKeys(docs.select(col("doc_id"), col("text"))))
        // two builder fleets, halves of the corpus, no coordination — and
        // inside each fleet the three families land in disjoint roots, so
        // both levels overlap (the query's zero-coordination premise made
        // physical; OverlapSpec gates the disjoint-root contract)
        def fleet(tag: String, h: Long): (String, String, String) = {
          val (i, k, v) =
            (s"$base/$tag/i", s"$base/$tag/k", s"$base/$tag/v")
          Par.all(Seq(
            () => indexStore(s, i, toks.filter(pmod(col("doc_id"), lit(2)) === h)),
            () => signatureStore(k, sigKeys.filter(pmod(col("id"), lit(2)) === h)),
            () => vectorStore(s, v, index, emb.filter(pmod(col("vec_id"), lit(2)) === h))))
          (i, k, v)
        }
        val ((ia, ka, va), (ib, kb, vbr)) =
          Par.both(fleet("a", 0L), fleet("b", 1L))
        // the federation tick: merge each family (disjoint roots), publish as v1
        val (im, km, vm) = (s"$base/m/i", s"$base/m/k", s"$base/m/v")
        Par.all(Seq(
          () => InvertedIndex.mergeStores(s, Seq(ia, ib), im): Unit,
          () => KeySetStore.mergeStores(s, Seq(ka, kb), km): Unit,
          () => VectorStore.mergeStores(s, Seq(va, vbr), vm): Unit))
        val mroot = s"$base/manifest"
        Manifest.init(mroot,
          Map("index" -> 1L, "vectors" -> 1L, "signatures" -> 1L))
        def bmAt(ver: Long) = bm25Rows(pinnedBm25(s, im, mroot, ver))
        val preBm = bmAt(1L)
        // q180 discipline on the MERGED stores: roll off the pinned gens
        // (three disjoint roots — generation rolls overlap, §2.6)
        fleetCompact(s, im, vm, km, 1L)
        val frac = 0.02
        def sweep(): Map[String, Option[Long]] = {
          val r = Par.all(Seq(
            () => InvertedIndex.compactIfNeeded(s, im,
              maxFragments = 1000, maxPendingFraction = frac),
            () => VectorStore.compactIfNeeded(s, vm,
              maxFragments = 1000, maxPendingFraction = frac),
            () => KeySetStore.compactIfNeeded(s, km,
              maxFragments = 1000, maxPendingFraction = frac)))
          Map("index" -> r(0), "vectors" -> r(1), "signatures" -> r(2))
        }
        val quietOnClean = sweep().values.forall(_.isEmpty)
        fleetTakedown(s, docs, emb, sigKeys, im, vm, km)
        val firedAll = sweep().values.forall(_ == Some(3L))
        val v2 = Manifest.publish(mroot, expectedVersion = 1L,
          Map("index" -> 3L, "vectors" -> 3L, "signatures" -> 3L))
        val v1Stable = v2 == 2L && bmAt(1L) == preBm
        val vectorPurged = Tables.parquet(s, VectorStore.codedDir(vm, 3L))
          .filter(col("cid") % 7 === 3).isEmpty && noPendingDeletes(GenStore.genDir(vm, 3L))
        pinnedBm25(s, im, mroot, 2L)
          .withGates("sweep_quiet_on_clean_merged_stores" -> quietOnClean,
            "sweep_fired_all_after_deletes" -> firedAll,
            "v1_pre_takedown_stable" -> v1Stable, "vector_purged_at_v2" -> vectorPurged)
          .orderBy(col("bm25").desc, col("doc_id"))
      },
      Some(s"""${tokCte("doc_id % 7 <> 3")}${bm25Ctes("tok")}
              |SELECT doc_id,
              |  ${bm25Score()} AS bm25,
              |  TRUE AS sweep_quiet_on_clean_merged_stores,
              |  TRUE AS sweep_fired_all_after_deletes,
              |  TRUE AS v1_pre_takedown_stable,
              |  TRUE AS vector_purged_at_v2
              |FROM p ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)),

    QDef("q195_retention_cutover",
      // RETENTION THROUGH THE MANIFEST — the q168 cutover discipline
      // applied to AGE-OUT instead of takedown: pin v1 on the full
      // history, expire the oldest batch (expiry is itself a
      // generation roll, so the pinned generation is never touched),
      // publish v2 on the expired generation. Gates: v1 still serves
      // the FULL history bit for bit after the expiry (generational
      // isolation makes retention non-destructive to pinned readers —
      // compliance can hold the old world while production ages
      // forward); vacuumStore REFUSES to drop the generation v1 still
      // pins (retainedPins enforced); after the manifest retires v1,
      // the same vacuum drops it and v2 serving is unaffected. Emitted
      // rows are v2's BM25 top-15 over the surviving corpus
      // (doc_id % 3 <> 0), the closed form the oracle recomputes.
      (s, d) => {
        val root = scratchDir("q195") + "/istore"
        val mroot = scratchDir("q195m") + "/manifest"
        val docs = t(s, d, "documents")
        val toks = tokenized(docs)
        indexStore(s, root, (0L to 2L).map(b => toks.filter(pmod(col("doc_id"), lit(3)) === b)): _*)
        Manifest.init(mroot, Map("index" -> 1L))
        def bmAt(ver: Long) = bm25Rows(pinnedBm25(s, root, mroot, ver))
        val preBm = bmAt(1L)
        val gen2 = InvertedIndex.expireBatches(s, root, expectedGen = 1L,
          minRetainedBatch = 1L)
        val v2 = Manifest.publish(mroot, expectedVersion = 1L,
          Map("index" -> gen2))
        val v1Stable = v2 == 2L && bmAt(1L) == preBm
        // the pinned generation survives a vacuum attempt
        val pinHolds = Manifest.vacuumStore(mroot, "index", root,
          keepLast = 1).isEmpty
        // retire v1, then the same vacuum drops gen 1 and v2 is unmoved
        val v2Pre = bmAt(2L)
        Manifest.vacuum(mroot, keepLast = 1)
        val droppedAfterRetire = Manifest.vacuumStore(mroot, "index", root,
          keepLast = 1) == Seq(1L)
        val v2Unmoved = bmAt(2L) == v2Pre
        pinnedBm25(s, root, mroot, 2L)
          .withGates("v1_full_history_stable" -> v1Stable,
            "pinned_gen_vacuum_refused" -> pinHolds,
            "dropped_after_manifest_retire" -> droppedAfterRetire,
            "v2_unmoved_by_vacuum" -> v2Unmoved)
          .orderBy(col("bm25").desc, col("doc_id"))
      },
      Some(s"""${tokCte("doc_id % 3 <> 0")}${bm25Ctes("tok")}
              |SELECT doc_id,
              |  ${bm25Score()} AS bm25,
              |  TRUE AS v1_full_history_stable,
              |  TRUE AS pinned_gen_vacuum_refused,
              |  TRUE AS dropped_after_manifest_retire,
              |  TRUE AS v2_unmoved_by_vacuum
              |FROM p ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)),

    QDef("q196_live_merge_quiesce",
      // LIVE-MERGE QUIESCE (GenStore.quiesce + the movement fence +
      // EventStreams.signatureIngestQuiesceAware) — federation while a
      // builder is still INGESTING, the contract q190-q194 left
      // undefined: a crawl stream admits signatures to builder A
      // continuously; mid-stream, the federation tick quiesces A and a
      // finished builder B (CAS a _MERGING mark naming the merged
      // successor), merges them (byte copies; the post-copy movement
      // fence refuses to seal if anything landed inside the window),
      // and the SAME sink observes the mark at its next micro-batch
      // boundary and re-points to the merged store — batch ids remapped
      // above the merged generation-1 seal, stable across restarts.
      // Gates: direct admission to a quiesced source is refused naming
      // the successor; the re-pointed stream's admissions land in the
      // merged store; its final key set equals a single-pipeline twin
      // that admitted every phase (zero lost, zero duplicated — the
      // probe decisions are bit-equal); retiring the merged-away
      // sources removes them without touching the successor. Emitted
      // rows are a never-admitted probe partition's decisions against
      // the merged store — the q191 closed form, recomputed by the
      // oracle from the portable-md5 keys of all three admitted phases.
      (s, d) => {
        val base = scratchDir("q196")
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val pa = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        val pb = docs.filter(pmod(col("doc_id"), lit(4)) === 1)
        val pc = docs.filter(pmod(col("doc_id"), lit(4)) === 2)
        val probe = docs.filter(pmod(col("doc_id"), lit(4)) === 3)
        val (ra, rb, merged, twin) =
          (s"$base/a", s"$base/b", s"$base/m", s"$base/twin")
        // ONE signature pass (guide §1.2) feeds builder B, the
        // single-pipeline twin, and every probe; the STREAM still derives
        // its micro-batches' keys itself — that machinery is the thing
        // under test. The twin admits every phase into its own root, so
        // its whole build overlaps the live flow (Par, §2.6).
        val sigKeys = signatureKeys(docs)
        val probeIds = probe.select(col("doc_id").as("id"))
        val probeKeys = sigKeys.filter(pmod(col("id"), lit(4)) === 3)
        def dec(r: String) = admitDecisions(probeIds, probeKeys, r)
        // builder B finished before the tick
        signatureStore(rb, sigKeys.filter(pmod(col("id"), lit(4)) === 1))
        // builder A ingests phase-1 crawl files as a LIVE stream
        val feed = s"$base/feed"
        pa.repartition(2).write.parquet(feed)
        val stream = feedStream(s, docs.schema, feed)
        val q = EventStreams.signatureIngestQuiesceAware(stream, "doc_id",
          "text", ra, s"$base/_cp", n = 3, numHashes = 32, bands = 8,
          portableKeys = true)
        try {
          def liveFlow(): (Boolean, Boolean) = {
            q.processAllAvailable()
            // THE FEDERATION TICK, mid-stream: quiesce both sources into
            // the successor, then merge
            GenStore.quiesce(ra, merged)
            GenStore.quiesce(rb, merged)
            val fenceNamed =
              try {
                Dedup.admitMinHashBatch(pa.limit(1), "doc_id", "text", n = 3,
                  numHashes = 32, bands = 8, batchId = 99L, root = ra,
                  portableKeys = true); false
              } catch { case e: IllegalStateException =>
                e.getMessage.contains(merged) }
            KeySetStore.mergeStores(s, Seq(ra, rb), merged)
            // phase-2 crawl files land AFTER the merge; the sink re-points
            pc.repartition(2).write.mode("append").parquet(feed)
            q.processAllAvailable()
            val repointed = GenStore.listBatchIds(s,
              GenStore.genDir(merged, 1L)).size > 3 // 2 copied A + 1 B
            (fenceNamed, repointed)
          }
          // single-pipeline twin over every phase
          def twinSection(): Seq[(Long, Boolean)] = {
            signatureStore(twin,
              (0L to 2L).map(b => sigKeys.filter(pmod(col("id"), lit(4)) === b)): _*)
            dec(twin)
          }
          val ((fenceNamed, repointed), twinDec) =
            Par.both(liveFlow(), twinSection())
          val eqTwin = dec(merged) == twinDec
          // zero lost, zero duplicated: the DISTINCT key sets coincide
          // (fragment multiplicity differs by micro-batch split, which
          // the store's multiset-insensitive reads are built for)
          val keysEq = Checks.multisetEq(
            KeySetStore.keysCurrent(s, merged).distinct(),
            KeySetStore.keysCurrent(s, twin).distinct())
          // merged-away sources retire without touching the successor
          // (the twin is untouched by the retire, so its probe decisions
          // are reused — guide §1.2; the successor is re-probed)
          Seq(ra, rb).foreach(GenStore.retire)
          val retired = !java.nio.file.Files.exists(
              java.nio.file.Paths.get(ra)) &&
            !java.nio.file.Files.exists(java.nio.file.Paths.get(rb)) &&
            dec(merged) == twinDec
          decisionFrame(probeIds, probeKeys, merged)
            .withGates("quiesce_fence_names_successor" -> fenceNamed,
              "sink_repointed_to_merged" -> repointed,
              "merged_eq_single_pipeline" -> eqTwin,
              "zero_lost_zero_duplicated" -> keysEq,
              "sources_retired_cleanly" -> retired)
            .orderBy(col("doc_id"))
        } finally q.stop()
      },
      Some(s"""${tokCte()}${bandKeyCtes()}, store AS (
             |  SELECT DISTINCT band, bucket FROM bnd WHERE doc_id % 4 IN (0, 1, 2)
             |), hits AS (
             |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS hit_bands
             |  FROM bnd b JOIN store s ON b.band = s.band AND b.bucket = s.bucket
             |  WHERE b.doc_id % 4 = 3
             |  GROUP BY b.doc_id
             |)
             |SELECT d.doc_id,
             |  CAST(coalesce(h.hit_bands, 0) AS BIGINT) AS hit_bands,
             |  coalesce(h.hit_bands, 0) = 0 AS admit,
             |  TRUE AS quiesce_fence_names_successor,
             |  TRUE AS sink_repointed_to_merged,
             |  TRUE AS merged_eq_single_pipeline,
             |  TRUE AS zero_lost_zero_duplicated,
             |  TRUE AS sources_retired_cleanly
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 3) d
             |LEFT JOIN hits h USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    QDef("q197_cdc_federation",
      // FEDERATION for the CDC SNAPSHOT store (EventStreams
      // .mergeCdcStores) — the one store family q190-q194 left out,
      // because version counters are per-pipeline LOCAL CLOCKS: two
      // pipelines' v2 directories are not the same instant, so
      // histories cannot interleave. What federates is the STATE: the
      // merge byte-copies both sources' CURRENT snapshots as the merged
      // store's v0 (a cut) and the merged clock starts at 0; per-key
      // seq guards stay sound with NO clock reconciliation because key
      // spaces are disjoint (the family contract) — a seq only ever
      // compares against seqs its own pipeline minted, VERIFIED here at
      // merge time (verifyKeyCols). Lifecycle gates: two pipelines each
      // publish updates (seq 1) and deletes (seq 2) on disjoint key
      // halves; quiesce + merge; merged v0 equals the union of the
      // source currents; a quiesced source's publish is refused naming
      // the successor; the merged clock publishes v1 (seq-3 updates
      // spanning BOTH halves); replaying a pre-merge change (stale seq
      // 1) is a no-op through the carried per-key guard; as-of v0
      // still serves the cut after both publishes; merging stores with
      // OVERLAPPING keys is refused before any pointer publishes.
      // Emitted rows are the merged current snapshot — the oracle
      // recomputes every surviving key's (bal, seq) closed-form.
      (s, d) => {
        val base = scratchDir("q197")
        val cust = t(s, d, "customer")
          .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
        val (sa, sb, m) = (s"$base/a", s"$base/b", s"$base/m")
        def pipeline(dir: String, half: Long, upd: Double, updMod: Long,
            delMod: Long): Unit = {
          val mine = cust.filter(pmod(col("key"), lit(2)) === half)
          EventStreams.initCdcState(mine.withColumn("seq", lit(0L)), dir)
          EventStreams.publishCdcBatch(s, dir,
            mine.filter(col("key") % 8 === updMod)
              .select(col("key"), (col("bal") + upd).as("bal"),
                lit(1L).as("seq"), lit("U").as("op")),
            Seq("key"), "seq", "op")
          EventStreams.publishCdcBatch(s, dir,
            mine.filter(col("key") % 16 === delMod)
              .select(col("key"), col("bal"), lit(2L).as("seq"),
                lit("D").as("op")),
            Seq("key"), "seq", "op")
        }
        pipeline(sa, 0L, 100.0, 0L, 4L)
        pipeline(sb, 1L, 50.0, 1L, 5L)
        def setEq(a: DataFrame, b: DataFrame): Boolean =
          Checks.multisetEq(a, b)
        val cut = EventStreams.currentCdcSnapshot(s, sa)
          .unionByName(EventStreams.currentCdcSnapshot(s, sb))
          .localCheckpoint() // pin: the sources retire-able afterwards
        // the federation tick: checkpoint-before-quiesce on ONE source
        // (the runbook step that keeps the merge on the byte-copy fast
        // path — state-preserving, so the cut and oracle are
        // unchanged); the other stays delta-current, so this merge
        // exercises BOTH movers: byte-copy for sb, resolve for sa
        EventStreams.checkpointCdc(s, sb)
        GenStore.quiesce(sa, m)
        GenStore.quiesce(sb, m)
        val vm = EventStreams.mergeCdcStores(s, Seq(sa, sb), m,
          verifyKeyCols = Seq("key"))
        val cutEq = vm == 0L &&
          setEq(EventStreams.currentCdcSnapshot(s, m), cut)
        val fenceNamed =
          try {
            EventStreams.publishCdcBatch(s, sa,
              cust.limit(1).select(col("key"), col("bal"),
                lit(9L).as("seq"), lit("U").as("op")),
              Seq("key"), "seq", "op"); false
          } catch { case e: IllegalStateException =>
            e.getMessage.contains(m) }
        // the merged clock continues: seq-3 updates spanning BOTH halves
        EventStreams.publishCdcBatch(s, m,
          cust.filter(col("key") % 16 === 8 || col("key") % 16 === 9)
            .select(col("key"),
              (col("bal") + when(col("key") % 8 === 0, 100.0)
                .otherwise(50.0) + 7.0).as("bal"),
              lit(3L).as("seq"), lit("U").as("op")),
          Seq("key"), "seq", "op")
        val v1 = EventStreams.currentCdcSnapshot(s, m).localCheckpoint()
        // stale replay of a PRE-merge change: the carried per-key seq
        // guard drops it — publishing is version-advancing but state-
        // preserving
        EventStreams.publishCdcBatch(s, m,
          cust.filter(pmod(col("key"), lit(2)) === 0 && col("key") % 8 === 0)
            .select(col("key"), (col("bal") + 999.0).as("bal"),
              lit(1L).as("seq"), lit("U").as("op")),
          Seq("key"), "seq", "op")
        val staleNoop = setEq(EventStreams.currentCdcSnapshot(s, m), v1)
        val asOfStable = setEq(EventStreams.cdcSnapshotAt(s, m, 0L), cut)
        // overlapping key spaces are refused before any pointer lands
        val sc = s"$base/c"
        EventStreams.initCdcState(
          cust.filter(col("key") % 4 === 0).withColumn("seq", lit(0L)), sc)
        val overlapRefused =
          refuses("disjoint") {
            EventStreams.mergeCdcStores(s, Seq(sa, sc), s"$base/bad",
              verifyKeyCols = Seq("key"))
          } && !GenStore.hasPointer(s"$base/bad")
        EventStreams.currentCdcSnapshot(s, m)
          .select(col("key"), col("bal"), col("seq"))
          .withGates("merged_v0_is_cut" -> cutEq,
            "quiesced_publish_refused" -> fenceNamed,
            "stale_premerge_replay_noop" -> staleNoop, "asof_v0_stable" -> asOfStable,
            "overlap_merge_refused" -> overlapRefused)
          .orderBy(col("key"))
      },
      Some("""SELECT c_custkey AS key,
             |  c_acctbal
             |    + CASE WHEN c_custkey % 8 = 0 THEN 100
             |           WHEN c_custkey % 8 = 1 THEN 50 ELSE 0 END
             |    + CASE WHEN c_custkey % 16 IN (8, 9) THEN 7 ELSE 0 END AS bal,
             |  CAST(CASE WHEN c_custkey % 16 IN (8, 9) THEN 3
             |            WHEN c_custkey % 8 IN (0, 1) THEN 1
             |            ELSE 0 END AS BIGINT) AS seq,
             |  TRUE AS merged_v0_is_cut,
             |  TRUE AS quiesced_publish_refused,
             |  TRUE AS stale_premerge_replay_noop,
             |  TRUE AS asof_v0_stable,
             |  TRUE AS overlap_merge_refused
             |FROM customer
             |WHERE c_custkey % 16 NOT IN (4, 5)
             |ORDER BY key""".stripMargin)),

    QDef("q198_cdc_delta_log",
      // DELTA-LOG CDC VERSIONS (round 15 — the write-amplification fix):
      // publish APPENDS the change batch as a delta version (an
      // O(change-batch) write, flat in state size) instead of
      // rewriting the full snapshot; the checkpoint policy
      // (cdcNeedsCheckpoint — chain length OR pending-delta-rows
      // fraction, footer metadata only) periodically folds the chain
      // into a full snapshot version, amortizing the one state-sized
      // write across many publishes. Reads resolve nearest checkpoint
      // + ordered cdcApply replay — bit-identical to eager application
      // because the replay IS the eager fold. Exercised here: four
      // publishes under maxDeltas=3 produce deltas v1..v3 and a
      // policy-forced checkpoint v4 (layout asserted per version);
      // each version's as-of read matches its independently recomputed
      // closed form; vacuum(keepLast=2) lands its boundary on DELTA v3
      // and must PROMOTE it (materialize a sealed v3c twin) before
      // dropping v0..v2 — retained versions serve identically after
      // the drop. The oracle states each version's (n_keys, total_bal)
      // in closed form over customer.
      (s, d) => {
        import s.implicits._
        val dir = scratchDir("q198") + "/cdc"
        val cust = t(s, d, "customer")
          .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
        EventStreams.initCdcState(
          cust.filter(col("key") % 3 === 0).withColumn("seq", lit(0L)), dir)
        def pub(b: DataFrame): Long =
          EventStreams.publishCdcBatch(s, dir, b, Seq("key"), "seq", "op",
            maxDeltas = 3, maxDeltaFraction = 1e9)
        pub(cust.filter(col("key") % 6 === 0)
          .select(col("key"), (col("bal") + 10).as("bal"),
            lit(1L).as("seq"), lit("U").as("op")))
        pub(cust.filter(col("key") % 3 === 1)
          .select(col("key"), col("bal"), lit(1L).as("seq"),
            lit("I").as("op")))
        pub(cust.filter(col("key") % 6 === 3)
          .select(col("key"), col("bal"), lit(2L).as("seq"),
            lit("D").as("op")))
        pub(cust.filter(col("key") % 6 === 0)
          .select(col("key"), (col("bal") + 50).as("bal"),
            lit(3L).as("seq"), lit("U").as("op")))
        // layout: three deltas then the policy-forced checkpoint
        val layoutOk = (1L to 3L).forall(EventStreams.isCdcDelta(dir, _)) &&
          !EventStreams.isCdcDelta(dir, 4L) &&
          EventStreams.cdcDeltasSinceCheckpoint(dir, 3L) == 3 &&
          EventStreams.cdcDeltasSinceCheckpoint(dir, 4L) == 0
        // closed-form expected state per version, recomputed from source
        def expected(v: Long): DataFrame = v match {
          case 0L => cust.filter(col("key") % 3 === 0)
          case 1L => cust.filter(col("key") % 3 === 0)
            .select(col("key"), when(col("key") % 6 === 0, col("bal") + 10)
              .otherwise(col("bal")).as("bal"))
          case 2L => expected(1L)
            .unionByName(cust.filter(col("key") % 3 === 1))
          case 3L => cust.filter(col("key") % 6 === 0)
            .select(col("key"), (col("bal") + 10).as("bal"))
            .unionByName(cust.filter(col("key") % 3 === 1))
          case _ => cust.filter(col("key") % 6 === 0)
            .select(col("key"), (col("bal") + 50).as("bal"))
            .unionByName(cust.filter(col("key") % 3 === 1))
        }
        // eager pre-vacuum capture (the q140 pattern) — including the
        // per-version layout kind, which vacuum reclaims with the chain
        val preVacuum = (0L to 4L).map { v =>
          val asof = EventStreams.cdcSnapshotAt(s, dir, v).select("key", "bal")
          val exp = expected(v).select("key", "bal")
          val ok = Checks.multisetEq(asof, exp)
          val st = asof.agg(count(lit(1)).cast("long"),
            sum(col("bal").cast(DecimalType(18, 2))).cast("double")).head()
          (v, st.getLong(0), st.getDouble(1), ok,
            EventStreams.isCdcDelta(dir, v))
        }
        // vacuum boundary = delta v3: promotion must seal a twin before
        // v0..v2 drop, and the retained reads must be unchanged
        val dropped = EventStreams.vacuumCdc(s, dir, keepLast = 2)
        require(dropped == Seq(0L, 1L, 2L),
          s"vacuum dropped $dropped, expected v0..v2")
        val promoted = java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, "v3c", "_SEALED"))
        def retained(v: Long): Boolean =
          try { EventStreams.cdcSnapshotAt(s, dir, v).count(); true }
          catch { case _: IllegalArgumentException => false }
        def stillServes(v: Long): Boolean = {
          val asof = EventStreams.cdcSnapshotAt(s, dir, v).select("key", "bal")
          val exp = expected(v).select("key", "bal")
          Checks.multisetEq(asof, exp)
        }
        preVacuum.map { case (v, n, sumBal, ok, wasDelta) =>
          val ret = retained(v)
          (v, n, sumBal, ok && (!ret || stillServes(v)), wasDelta,
            ret, layoutOk && promoted)
        }.toDF("version", "n_keys", "total_bal", "asof_read_ok",
          "was_delta", "retained_after_vacuum", "layout_ok")
          .orderBy(col("version"))
      },
      Some("""WITH v AS (
             |  SELECT 0 AS version UNION ALL SELECT 1 UNION ALL SELECT 2
             |  UNION ALL SELECT 3 UNION ALL SELECT 4
             |), st AS (
             |  SELECT 0 AS version, count(*) AS n,
             |    sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s
             |  FROM customer WHERE c_custkey % 3 = 0
             |  UNION ALL
             |  SELECT 1, count(*),
             |    sum(CAST(CASE WHEN c_custkey % 6 = 0 THEN c_acctbal + 10
             |      ELSE c_acctbal END AS DECIMAL(18,2)))
             |  FROM customer WHERE c_custkey % 3 = 0
             |  UNION ALL
             |  SELECT 2, count(*),
             |    sum(CAST(CASE WHEN c_custkey % 6 = 0 THEN c_acctbal + 10
             |      ELSE c_acctbal END AS DECIMAL(18,2)))
             |  FROM customer WHERE c_custkey % 3 = 0 OR c_custkey % 3 = 1
             |  UNION ALL
             |  SELECT 3, count(*),
             |    sum(CAST(CASE WHEN c_custkey % 6 = 0 THEN c_acctbal + 10
             |      ELSE c_acctbal END AS DECIMAL(18,2)))
             |  FROM customer WHERE c_custkey % 6 = 0 OR c_custkey % 3 = 1
             |  UNION ALL
             |  SELECT 4, count(*),
             |    sum(CAST(CASE WHEN c_custkey % 6 = 0 THEN c_acctbal + 50
             |      ELSE c_acctbal END AS DECIMAL(18,2)))
             |  FROM customer WHERE c_custkey % 6 = 0 OR c_custkey % 3 = 1
             |)
             |SELECT CAST(st.version AS BIGINT) AS version,
             |  CAST(n AS BIGINT) AS n_keys, CAST(s AS DOUBLE) AS total_bal,
             |  TRUE AS asof_read_ok,
             |  st.version IN (1, 2, 3) AS was_delta,
             |  st.version IN (3, 4) AS retained_after_vacuum,
             |  TRUE AS layout_ok
             |FROM st ORDER BY version""".stripMargin)),

    QDef("q199_filtered_ann",
      // FILTERED ANN (VectorStore.searchWhere) — the metadata-predicate
      // search every production vector store needs: top-k over ONLY the
      // vectors passing a predicate (here: even label — the embeddings
      // table's metadata column, ~50% selective). Pre-filter semantics
      // gated two ways: (1) every returned neighbor must satisfy the
      // filter (a post-filter can't leak here by construction — the
      // coded store LEFT-SEMI joins the allowed ids BEFORE scoring, so
      // disallowed vectors never hold a slot); (2) recall >= 0.8
      // against brute-force cosine over the FILTERED corpus (the q35
      // gate pattern; nprobe dialed to 12/16 because the filter thins
      // every probed cell's candidate pool — measured ~1.0 at these
      // settings since the shortlist re-ranks exactly). n_results = k
      // per query is exact and oracle-checked.
      (s, d) => {
        val dir = scratchDir("q199")
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
          .select(col("vec_id"), col("embedding"))
        val allowed = emb.filter(col("label") % 2 === 0).select("vec_id")
        val (cents, books) = fitIvfPq(emb)
        VectorStore.init(s, dir + "/store", cents, books)
        VectorStore.admit(s, dir + "/store", emb, "vec_id", "embedding", 0L)
        val filt = VectorStore.searchWhere(s, dir + "/store", q,
            "vec_id", "embedding", 5, allowed,
            nprobe = Nprobe, shortlistFactor = Shortlist)
          .select("query_id", "neighbor_id")
        val bf = Similarity.bruteForceTopK(q,
            emb.join(allowed, Seq("vec_id"), "left_semi"),
            "vec_id", "embedding", 5)
          .select("query_id", "neighbor_id")
        val w = Window.partitionBy() // 10 queries by this point: tiny
        filt
          .join(bf.withColumn("hit", lit(1L)),
            Seq("query_id", "neighbor_id"), "left")
          .join(allowed.withColumnRenamed("vec_id", "neighbor_id")
            .withColumn("ok", lit(true)), Seq("neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_results"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
            bool_and(coalesce(col("ok"), lit(false)))
              .as("all_match_filter"))
          .select(col("query_id"), col("n_results"),
            col("all_match_filter"),
            (sum(col("n_hits")).over(w).cast("double")
              / sum(col("n_results")).over(w) >= 0.8).as("recall_ge_080"))
          .orderBy(col("query_id"))
      },
      Some(gateOracle("TRUE AS all_match_filter, TRUE AS recall_ge_080"))),

    QDef("q200_filtered_bm25",
      // FILTERED BM25 (InvertedIndex.bm25SearchCurrentWhere) — the
      // retrieval twin of q199's filtered ANN: top-k restricted to docs
      // passing a metadata predicate (doc_id % 4 <> 1 here), with the
      // Lucene filtered-query stance on stats — corpus-level N/avgdl/df
      // are KEPT, so the filter decides who may hold a slot, never the
      // weights: a surviving doc's score is bit-identical to its
      // unconstrained score (scores stay comparable across tenant
      // views of one corpus). The oracle recomputes the FULL-corpus
      // weight pipeline (q143's CTEs) and applies the predicate only at
      // the final cut — hash-matching both the membership claim (no
      // disallowed doc ranks) and the stats claim (weights unchanged by
      // the filter) in one shot. The semi join restricts candidate
      // rows of the query's terms, never the corpus.
      (s, d) => {
        val root = scratchDir("q200") + "/istore"
        val docs = docTokens(s, d)
        InvertedIndex.initStore(root)
        admitDocs(s, docs, 0L, root)
        val allowed = t(s, d, "documents")
          .filter(col("doc_id") % 4 =!= 1).select("doc_id")
        InvertedIndex.bm25SearchCurrentWhere(s, root, bm25Terms, 15,
            allowed)
          .orderBy(col("bm25").desc, col("doc_id"))
      },
      Some(s"""${tokCte()}${bm25Ctes("tok")}
              |SELECT doc_id,
              |  ${bm25Score()} AS bm25
              |FROM p WHERE doc_id % 4 <> 1
              |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)),

    QDef("q201_cdc_index_sync",
      // CDC → RETRIEVAL-INDEX SYNC (round 15's structural piece): the
      // index TRACKS a mutating corpus through the CDC store's delta
      // log — no rebuilds. Each CdcSync tick reads the net change feed
      // (cdcChangesBetween: raw deltas + the narrow (key, seq) guard,
      // O(change bytes), flat in state/index size) and applies it as
      // ONE scoped delete (hwm = tick version - 1 masks every earlier
      // copy; the ordered-delete rule Lucene/Delta use) plus ONE
      // admission of the new versions — upserts REPLACE (the q-gate
      // below proves the %20 docs carry exactly their second re-crawl's
      // single extra token, not the first's two), deletes take down,
      // inserts admit, and a doc has one live copy per read even while
      // two physical copies exist. In-query gates: watermark no-op
      // stability; lookup + BM25 bit-equality against a FRESH one-shot
      // build of the mutated corpus (exact-stats masking: N/sum_dl/df
      // shrink row-exactly); compaction folds the history physically
      // (no pending deletes, one doclens row per doc) and serves
      // identically. The oracle states the mutated corpus in closed
      // form and the posting lists over it (q142's shape).
      (s, d) => {
        val base = scratchDir("q201")
        val (cdc, root, fresh) = (s"$base/cdc", s"$base/idx", s"$base/fresh")
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        EventStreams.initCdcState(docs.withColumn("seq", lit(0L)), cdc)
        def tick() = syncIndex(s, cdc, root)
        require(tick() == 0L, "bootstrap tick must land at v0")
        // v1: first re-crawl (U, adds two tokens to %10==0);
        // v2: new crawl (I, shifted ids) + takedowns (D, %10==7);
        // v3: second re-crawl REPLACES v1's versions for %20==0
        val Seq(v1, v2, v3) = cdcMutations(docs)
        publishDocs(s, cdc, v1)
        require(tick() == 1L, "tick must advance to v1")
        publishDocs(s, cdc, v2)
        publishDocs(s, cdc, v3)
        require(tick() == 3L, "one tick must cover the (1, 3] window")
        require(tick() == 3L, "a no-op tick must not move the watermark")
        // the fresh one-shot build lands in its own root — it (and its
        // surface read) overlaps the synced store's surface read (Par,
        // §2.6); the fresh store is then immutable, so its surfaces are
        // read ONCE and reused for the post-compaction gate (§1.2)
        val (syncedSurf, freshSurf) = Par.both(indexSurfaces(s, root),
          { freshIndex(s, cdc, fresh); indexSurfaces(s, fresh) })
        require(syncedSurf == freshSurf,
          "synced store diverges from a fresh build of the mutated corpus")
        InvertedIndex.compactStore(s, root, InvertedIndex.currentGen(root))
        require(indexSurfaces(s, root) == freshSurf,
          "post-compaction surfaces diverge")
        val gen = InvertedIndex.genDir(root, InvertedIndex.currentGen(root))
        require(noPendingDeletes(gen), "compaction left pending deletes")
        require(Tables.parquet(s, s"$gen/doclens").groupBy("doc_id").count()
            .filter(col("count") > 1).isEmpty,
          "a doc survives in more than one physical copy")
        postingsFrame(InvertedIndex.lookupCurrent(s, root, syncTerms))
      },
      cdcSyncLookupOracle),

    QDef("q202_cdc_vector_sync",
      // CDC → VECTOR-STORE SYNC — q201's twin for embeddings: the coded
      // ANN store tracks a mutating embedding corpus (re-embedded docs,
      // new docs, takedowns) through the same delta-log feed. The
      // bootstrap tick FITS the IVF-PQ artifact once; each tick is a
      // scoped delete + re-encode admission (VectorStore.admitReplace's
      // shape) — geometry refresh stays the drift policy's job
      // (needsRefit), orthogonal to sync. In-query gates carry the
      // payload claim: the synced store's recoverable vectors equal a
      // twin store (same artifact) admitted the mutated corpus once —
      // exact, including the re-embedded values; a search WITH an
      // updated embedding returns its own id at top-1 (the new version
      // serves and the old is masked — the probe's own cell is probed
      // and exact re-rank scores the stored twin 1.0; the update is a
      // component REVERSAL, in-distribution for the codebooks fit on
      // the pre-mutation corpus, unlike a shift/negation which would
      // bury the true match in quantization error);
      // compaction folds the upsert history physically. The oracle
      // states the served id set per modulus class in closed form.
      (s, d) => {
        val base = scratchDir("q202")
        val (cdc, root, twin) = (s"$base/cdc", s"$base/vec", s"$base/twin")
        val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        EventStreams.initCdcState(emb.withColumn("seq", lit(0L)), cdc)
        def tick() = syncVectors(s, cdc, root, "vec_id")
        require(tick() == 0L, "bootstrap tick must land at v0")
        // one batch: re-embeds (U, all components shifted), new docs
        // (I, shifted ids), takedowns (D)
        EventStreams.publishCdcBatch(s, cdc,
          emb.filter(col("vec_id") % 5 === 0)
            .select(col("vec_id"),
              reverse(col("embedding")).as("embedding"),
              lit(1L).as("seq"), lit("U").as("op"))
            .unionByName(emb.filter(col("vec_id") % 5 === 2)
              .select((col("vec_id") + 1000000L).as("vec_id"),
                col("embedding"), lit(1L).as("seq"), lit("I").as("op")))
            .unionByName(emb.filter(col("vec_id") % 5 === 3)
              .select(col("vec_id"), col("embedding"), lit(1L).as("seq"),
                lit("D").as("op"))),
          Seq("vec_id"), "seq", "op")
        require(tick() == 1L, "tick must advance to v1")
        val gen = VectorStore.currentGen(root)
        vectorStore(s, twin, VectorStore.loadGenIndex(s, root, gen),
          EventStreams.currentCdcSnapshot(s, cdc).select(col("vec_id"), col("embedding")))
        def vecs(r: String) = VectorStore.vectors(s, r, "vec_id", "embedding")
        def setEq(a: DataFrame, b: DataFrame) =
          Checks.multisetEq(a, b)
        require(setEq(vecs(root), vecs(twin)),
          "synced vector store diverges from the mutated corpus")
        // the UPDATED (component-reversed) embedding retrieves the doc
        // it replaced at top-1 with cosine ~1 (exact re-rank on the
        // stored twin) — under FRESH query ids, because every search
        // path is a kNN join that excludes self-pairs (query_id = cid).
        // Reversal keeps the component distribution (the artifact's
        // codebooks still quantize it into the shortlist) while
        // decorrelating the direction from the old copy
        val probe = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") < 20)
          .select((col("vec_id") + 5000000L).as("vec_id"),
            reverse(col("embedding")).as("embedding"))
        val top1 = VectorStore.search(s, root, probe, "vec_id", "embedding",
            k = 1, nprobe = 8, shortlistFactor = 32)
          .filter(col("neighbor_id") === col("query_id") - 5000000L &&
            col("cos") > 0.999)
          .count()
        require(top1 == 4L,
          "an updated embedding must retrieve its new version at top-1")
        VectorStore.compactGen(s, root, gen)
        require(setEq(vecs(root), vecs(twin)), "post-compaction divergence")
        require(noPendingDeletes(GenStore.genDir(root, VectorStore.currentGen(root))),
          "compaction left pending deletes")
        vecs(root).select((col("vec_id") % 5).cast("long").as("klass"))
          .groupBy(col("klass"))
          .agg(count(lit(1)).cast("long").as("n_vecs"))
          .orderBy(col("klass"))
      },
      Some("""WITH mut AS (
             |  SELECT vec_id FROM embeddings WHERE vec_id % 5 <> 3
             |  UNION ALL
             |  SELECT vec_id + 1000000 AS vec_id FROM embeddings
             |  WHERE vec_id % 5 = 2
             |)
             |SELECT CAST(vec_id % 5 AS BIGINT) AS klass,
             |  CAST(count(*) AS BIGINT) AS n_vecs
             |FROM mut GROUP BY klass ORDER BY klass""".stripMargin)),

    QDef("q203_cdc_sync_streaming",
      // THE CORPUS-TRACKING PIPELINE AS ONE STREAM
      // (CdcSync.cdcIngestSyncing): change-batch files stream in; each
      // micro-batch PUBLISHES a delta version, runs a sync TICK, and
      // evaluates the index's compaction policy — publish, sync,
      // maintain, serialized per micro-batch (which IS the
      // scoped-delete single-writer contract). The same q201 mutations
      // arrive as three feed files (one per trigger); the final state
      // is order- and batching-robust BY THE SEQ DESIGN: a replacing
      // update carries a higher seq, so whatever the file-source's
      // trigger grouping, stale changes drop and the fold lands at the
      // same corpus. Gates: the index watermark sits at the CDC store's
      // current version when the stream drains; lookup + BM25
      // bit-equality against a fresh one-shot build of the final
      // corpus; the in-stream policy ROLLED the generation (pending
      // scoped deletes + fragment growth crossed the dials) and is
      // QUIET at drain. Output: the shared q201 closed form.
      (s, d) => {
        val base = scratchDir("q203")
        val (cdc, root, fresh, feed) =
          (s"$base/cdc", s"$base/idx", s"$base/fresh", s"$base/feed")
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        EventStreams.initCdcState(docs.withColumn("seq", lit(0L)), cdc)
        val batches = cdcMutations(docs)
        batches.foreach(_.coalesce(1).write.mode("append").parquet(feed))
        val stream = feedStream(s, batches.head.schema, feed)
        val q = CdcSync.cdcIngestSyncing(stream, cdc, root, "doc_id",
          "tk", IndexBucket, tokenized, s"$base/_cp",
          maxFragments = 2, maxPendingFraction = 0.01)
        try q.processAllAvailable() finally q.stop()
        val atCurrent = CdcSync.appliedState(root).exists(_._1 ==
          EventStreams.currentCdcVersion(cdc))
        require(atCurrent, "index watermark must sit at the CDC current")
        require(InvertedIndex.currentGen(root) > 1L,
          "the in-stream compaction policy never fired")
        require(!InvertedIndex.needsCompaction(s, root,
            maxFragments = 2, maxPendingFraction = 0.01),
          "the policy is not quiet at drain")
        // fresh one-shot build in its own root || the drained store's
        // surface read (Par, §2.6)
        val (syncedSurf, freshSurf) = Par.both(indexSurfaces(s, root),
          { freshIndex(s, cdc, fresh); indexSurfaces(s, fresh) })
        require(syncedSurf == freshSurf,
          "streamed-synced store diverges from a fresh build")
        postingsFrame(InvertedIndex.lookupCurrent(s, root, syncTerms))
      },
      cdcSyncLookupOracle),

    QDef("q204_cdc_hybrid_serving",
      // THE SERVING STACK TRACKS THE CORPUS — the hybrid capstone: ONE
      // CDC store (payload = text AND embedding per doc) feeds TWO
      // synced serving stores (CdcSync ticks into the retrieval index
      // and the coded vector store), and HYBRID retrieval (q146's RRF
      // fusion of BM25 rank and ANN rank) over the synced pair must
      // equal the same fusion over fresh one-shot builds of the
      // mutated corpus — lexical and dense views of one mutating
      // corpus stay mutually consistent because both advance through
      // the same delta-log feed under the same watermark discipline.
      // In-query gates: both stores' watermarks sit at the CDC current;
      // the two stores SERVE THE SAME id set (index doclens ids ==
      // recoverable vector ids — the cross-store consistency a serving
      // layer needs before it may fuse ranks); fused top-10 equality
      // vs the fresh pair; and the fusion itself ranks an UPDATED
      // doc's new form (its re-crawled term + re-embedded vector)
      // at #1 — the update is visible through BOTH modalities. The
      // oracle states the final corpus cardinalities in closed form.
      (s, d) => {
        val base = scratchDir("q204")
        val (cdc, iroot, vroot) = (s"$base/cdc", s"$base/idx", s"$base/vec")
        val (ifresh, vtwin) = (s"$base/ifresh", s"$base/vtwin")
        // the two synced stores live in disjoint roots and only READ the
        // shared CDC store — their ticks overlap (Par, guide §2.6)
        val (corpus, emb) = cdcPair(s, d, base)
        // one mixed change batch: re-crawl + re-embed (U), new docs
        // (I), takedowns (D)
        publishDocs(s, cdc,
          corpus.filter(col("doc_id") % 5 === 0)
            .select(col("doc_id"),
              // doc 0's re-crawl carries a UNIQUE term so the hybrid
              // probe is bimodal by construction (rank #1 on BOTH legs)
              concat(col("text"), when(col("doc_id") === 0L,
                lit(" graftsync graftuniq"))
                .otherwise(lit(" graftsync"))).as("text"),
              reverse(col("embedding")).as("embedding"),
              lit(1L).as("seq"), lit("U").as("op"))
            .unionByName(corpus.filter(col("doc_id") % 5 === 2)
              .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
                col("embedding"), lit(1L).as("seq"), lit("I").as("op")))
            .unionByName(corpus.filter(col("doc_id") % 5 === 3)
              .select(col("doc_id"), col("text"), col("embedding"),
                lit(1L).as("seq"), lit("D").as("op"))))
        val (itickV1, vtickV1) = pairTick(s, base)
        require(itickV1 == 1L && vtickV1 == 1L,
          "both sync ticks must land at v1")
        // fold the upsert history on both sides (the compaction leg of
        // the tick lifecycle), then gate cross-store consistency: the
        // two synced stores serve the SAME id set
        Par.both(
          InvertedIndex.compactStore(s, iroot, InvertedIndex.currentGen(iroot)),
          VectorStore.compactGen(s, vroot, VectorStore.currentGen(vroot)))
        val idxIds = Tables.parquet(s, InvertedIndex.genDir(iroot,
          InvertedIndex.currentGen(iroot)) + "/doclens").select("doc_id")
        val vecIds = VectorStore.vectors(s, vroot, "doc_id", "embedding")
          .select("doc_id")
        require(Checks.multisetEq(idxIds, vecIds),
          "the two synced stores serve different id sets")
        // fresh pair: one-shot builds of the final corpus (vector twin
        // under the synced store's own artifact)
        val fin = EventStreams.currentCdcSnapshot(s, cdc)
        Par.both(
          indexStore(s, ifresh, tokenized(fin)),
          {
            val (cents, books) = VectorStore.loadGenIndex(s, vroot,
              VectorStore.currentGen(vroot))
            VectorStore.init(s, vtwin, cents, books)
            VectorStore.admit(s, vtwin, fin.select(col("doc_id"), col("embedding")),
              "doc_id", "embedding", 0L)
          })
        // the hybrid probe: an updated doc's NEW form through both
        // modalities — its re-crawled term for BM25, its re-embedded
        // vector (fresh query id: searches exclude self-pairs)
        val probeVec = emb.filter(col("doc_id") === 0L)
          .select(lit(5000000L).as("doc_id"),
            reverse(col("embedding")).as("embedding"))
        def hybrid(ir: String, vr: String): Seq[(Long, Double)] = {
          val bm = InvertedIndex.bm25SearchCurrent(s, ir,
              Seq("graftuniq", "graftsync", "join"), 20)
            .withColumn("rb", row_number().over(
              Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
            .select(col("doc_id"), col("rb"))
          val ann = VectorStore.search(s, vr, probeVec, "doc_id",
              "embedding", k = 20, nprobe = 8, shortlistFactor = 32)
            .select(col("neighbor_id").as("doc_id"),
              col("rank").as("ra"))
          bm.join(ann, Seq("doc_id"), "full_outer")
            .select(col("doc_id"),
              (coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(60) + col("ra")), lit(0.0)))
                .as("rrf"))
            .orderBy(col("rrf").desc, col("doc_id")).limit(10)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        }
        val (synced, freshHybrid) =
          Par.both(hybrid(iroot, vroot), hybrid(ifresh, vtwin))
        require(synced == freshHybrid,
          "hybrid retrieval over the synced pair diverges from fresh builds")
        require(synced.head._1 == 0L,
          "the updated doc's new form must fuse to #1 through both modalities")
        fin.agg(count(lit(1)).cast("long").as("n_docs_final"),
          count(when(col("doc_id") >= 1000000L, lit(1))).cast("long")
            .as("n_inserted"),
          lit(true).as("hybrid_matches_fresh"))
      },
      Some("""SELECT
             |  CAST((SELECT count(*) FROM documents d JOIN embeddings e
             |        ON d.doc_id = e.vec_id WHERE d.doc_id % 5 <> 3) +
             |       (SELECT count(*) FROM documents d JOIN embeddings e
             |        ON d.doc_id = e.vec_id WHERE d.doc_id % 5 = 2)
             |    AS BIGINT) AS n_docs_final,
             |  CAST((SELECT count(*) FROM documents d JOIN embeddings e
             |        ON d.doc_id = e.vec_id WHERE d.doc_id % 5 = 2)
             |    AS BIGINT) AS n_inserted,
             |  TRUE AS hybrid_matches_fresh""".stripMargin)),

    QDef("q205_cdc_federated_sync",
      // FEDERATED SYNC — the fleet leg of the corpus-tracking story:
      // TWO pipelines each run (CDC store -> synced index) on their
      // own key partition; the fleet then checkpoints + quiesces the
      // CDC sources, merges them (the q197 state cut — merged clock
      // starts at v0), merges the synced indexes with
      // compactFirst=true (REQUIRED here, and deliberately exercised:
      // pipeline A's upsert tick left a pending SCOPED delete, whose
      // hwm would go stale under the merge's batch-id renumbering —
      // the fence refuses, the pre-merge fold cures), REBINDS the
      // merged index's watermark to the merged store's v0
      // (CdcSync.rebind — sound because each pipeline synced to its
      // final version before the cut, so the merged index's content
      // IS the merged v0), and then ORDINARY ticks continue against
      // the merged pair: a post-merge change batch (replacing updates
      // across the old partition boundary + a delete) lands through
      // one tick. Gates: the post-merge tick returns v1; lookup + BM25
      // bit-equality against a fresh one-shot build of the final
      // corpus. The oracle states the final posting lists in closed
      // form across the whole mutation ledger.
      (s, d) => {
        val base = scratchDir("q205")
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        // two pipelines on disjoint key partitions
        val (cdcA, cdcB, idxA, idxB) =
          (s"$base/cdcA", s"$base/cdcB", s"$base/idxA", s"$base/idxB")
        val (mcdc, midx, fresh) =
          (s"$base/mcdc", s"$base/midx", s"$base/fresh")
        // the two pipelines own disjoint (cdc, index) roots and key
        // partitions — the query's own fleet premise — so their whole
        // pre-cut life (bootstrap, change batch, sync tick, checkpoint)
        // overlaps (Par, guide §2.6); each pipeline's internal order is
        // unchanged
        def pipeline(cdc: String, root: String, keyHalf: Long,
            changes: DataFrame): Long = {
          EventStreams.initCdcState(docs.filter(col("doc_id") % 2 === keyHalf)
            .withColumn("seq", lit(0L)), cdc)
          syncIndex(s, cdc, root)
          publishDocs(s, cdc, changes)
          val v = syncIndex(s, cdc, root)
          EventStreams.checkpointCdc(s, cdc)
          v
        }
        val (vA, vB) = Par.both(
          pipeline(cdcA, idxA, 0L, cdcUpserts(docs, 10, " graftsync", 1L)),
          pipeline(cdcB, idxB, 1L,
            cdcInserts(docs, 3).unionByName(cdcDeletes(docs, 7))))
        require(vA == 1L && vB == 1L, "pipeline ticks must land at v1")
        // the cut: quiesce, merge both layers, rebind, retire-ready
        GenStore.quiesce(cdcA, mcdc); GenStore.quiesce(cdcB, mcdc)
        EventStreams.mergeCdcStores(s, Seq(cdcA, cdcB), mcdc,
          verifyKeyCols = Seq("doc_id"))
        // the scoped-delete fence fires on A's pending upsert delete —
        // exercised, then cured by the pre-merge fold
        val fenced =
          try { InvertedIndex.mergeStores(s, Seq(idxA, idxB), s"$base/refused")
            false }
          catch { case e: IllegalStateException =>
            e.getMessage.contains("SCOPED") }
        require(fenced, "the scoped-delete merge fence must fire")
        InvertedIndex.mergeStores(s, Seq(idxA, idxB), midx,
          compactFirst = true)
        CdcSync.rebind(mcdc, midx, 0L)
        // post-merge: one change batch across the old partition
        // boundary, one ordinary tick against the merged pair
        publishDocs(s, mcdc, cdcUpserts(docs, 20, " graftsync graftsync", 2L)
          .unionByName(cdcDeletes(docs, 9)))
        require(syncIndex(s, mcdc, midx) == 1L,
          "the post-merge tick must land at the merged clock's v1")
        // fresh one-shot build in its own root || the merged store's
        // surface read (Par, §2.6)
        val (mergedSurf, freshSurf) = Par.both(indexSurfaces(s, midx),
          { freshIndex(s, mcdc, fresh); indexSurfaces(s, fresh) })
        require(mergedSurf == freshSurf,
          "the federated synced index diverges from a fresh build")
        postingsFrame(InvertedIndex.lookupCurrent(s, midx, syncTerms))
      },
      Some(syncPostingsOracle(
        """|  SELECT doc_id, CASE
           |    WHEN doc_id % 20 = 0 THEN text || ' graftsync graftsync'
           |    WHEN doc_id % 10 = 0 THEN text || ' graftsync'
           |    ELSE text END AS text
           |  FROM documents WHERE doc_id % 10 <> 7 AND doc_id % 10 <> 9
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, 'graftsync ' || text AS text
           |  FROM documents WHERE doc_id % 10 = 3""".stripMargin))),

    QDef("q206_sync_status",
      // THE SYNC DASHBOARD (CdcSync.syncStatus) — the q174/q181
      // maintenance-status discipline applied to the corpus-tracking
      // pair: one row per synced store with its binding, VERSION LAG
      // (how far serving trails the log — the operational quantity a
      // sync scheduler watches), fragment growth and pending-delete
      // pressure, from driver-side file reads and parquet FOOTER
      // counts ONLY — zero Spark jobs over store data, so the check is
      // affordable every tick (the PLANS.md audit is the negative
      // proof: no store FileScan anywhere). Built state: both stores
      // bootstrapped and ticked through v1 (an upsert batch — scoped
      // deletes pending on both); v2 (a pure-delete batch) published
      // and ticked ONLY into the index — the vector store reads lag 1.
      // Every cell is closed-form: versions and lags from the ledger,
      // fragment counts from the tick structure (a pure-D window
      // admits NO data batch), pending rows = the changed-key counts.
      (s, d) => {
        val base = scratchDir("q206")
        val (cdc, iroot, vroot) = (s"$base/cdc", s"$base/idx", s"$base/vec")
        // disjoint synced roots, shared CDC read — ticks overlap (Par, §2.6)
        val (corpus, _) = cdcPair(s, d, base)
        publishDocs(s, cdc,
          corpus.filter(col("doc_id") % 10 === 0)
            .select(col("doc_id"),
              concat(col("text"), lit(" graftsync")).as("text"),
              reverse(col("embedding")).as("embedding"),
              lit(1L).as("seq"), lit("U").as("op")))
        pairTick(s, base)
        publishDocs(s, cdc,
          corpus.filter(col("doc_id") % 10 === 7)
            .select(col("doc_id"), col("text"), col("embedding"),
              lit(1L).as("seq"), lit("D").as("op")))
        syncIndex(s, cdc, iroot) // the vector store is left one version behind
        CdcSync.syncStatus(s, Seq((cdc, iroot), (cdc, vroot)))
          .orderBy(col("store"))
      },
      Some("""WITH c AS (
             |  SELECT
             |    (SELECT count(*) FROM documents WHERE doc_id % 10 = 0) AS u,
             |    (SELECT count(*) FROM documents WHERE doc_id % 10 = 7) AS del
             |)
             |SELECT 'idx' AS store, 'index' AS family,
             |  CAST(2 AS BIGINT) AS applied_version,
             |  CAST(2 AS BIGINT) AS current_version,
             |  CAST(0 AS BIGINT) AS lag_versions,
             |  CAST(0 AS BIGINT) AS batch_base,
             |  CAST(1 AS BIGINT) AS generation,
             |  CAST(2 AS BIGINT) AS fragments,
             |  CAST(u + del AS BIGINT) AS pending_delete_rows
             |FROM c
             |UNION ALL
             |SELECT 'vec', 'vectors', CAST(1 AS BIGINT),
             |  CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT),
             |  CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(u AS BIGINT)
             |FROM c
             |ORDER BY store""".stripMargin)),

    QDef("q207_resync_cutover",
      // THE RESYNC RUNBOOK, end to end — the documented recovery for a
      // watermark that fell out of the CDC retention window: the stale
      // pipeline's tick REFUSES (cdcChangesBetween finds the applied
      // version vacuumed — never a silent full diff), a FRESH root
      // bootstraps from the current snapshot (the ordinary first-tick
      // path), and serving cuts over through the manifest (the
      // q152/q195 pin discipline — a publish moves the pin from the
      // stale store to the resynced one; readers resolve the pin, so
      // the cutover is one atomic pointer move and the stale store
      // stays readable under the old version until retired). Gates:
      // the refusal fires with the retention message; the resynced
      // store serves bit-equal to a fresh build (it IS one); v1 reads
      // through the manifest still serve the STALE store's content
      // (cutover is versioned, not destructive); v2 reads serve the
      // resynced store; and the resynced pipeline keeps ticking (one
      // post-cutover change batch lands through the ordinary path).
      (s, d) => {
        val base = scratchDir("q207")
        val (cdc, r1, r2, mroot) =
          (s"$base/cdc", s"$base/idx-r1", s"$base/idx-r2", s"$base/manifest")
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        def tick(root: String) = syncIndex(s, cdc, root)
        EventStreams.initCdcState(docs.withColumn("seq", lit(0L)), cdc)
        tick(r1)
        Manifest.init(mroot, Map("idx-r1" -> 1L))
        // the log moves on with eager checkpoints; retention passes the
        // r1 watermark by
        EventStreams.publishCdcBatch(s, cdc, cdcUpserts(docs, 10, " graftsync", 1L),
          Seq("doc_id"), "seq", "op", maxDeltas = 0)
        EventStreams.publishCdcBatch(s, cdc, cdcDeletes(docs, 7, 2L),
          Seq("doc_id"), "seq", "op", maxDeltas = 0)
        EventStreams.vacuumCdc(s, cdc, keepLast = 1)
        val refused = refuses("vacuumed") { tick(r1) }
        require(refused, "a vacuumed watermark must refuse the tick")
        // resync: fresh root bootstraps; the manifest cutover re-pins
        tick(r2)
        val v2 = Manifest.publish(mroot, expectedVersion = 1L,
          Map("idx-r2" -> InvertedIndex.currentGen(r2)))
        val roots = Map("idx-r1" -> r1, "idx-r2" -> r2)
        def bmAt(ver: Long): Seq[(Long, Double)] = {
          val store = Manifest.pins(mroot, ver).keys.head
          bm25Rows(InvertedIndex.bm25SearchStore(s, InvertedIndex.genDir(
            roots(store), Manifest.resolve(mroot, ver, store)), syncTerms, 10))
        }
        // v1 still serves the STALE content (no graftsync docs yet —
        // r1 never saw the updates); v2 serves the resynced store
        val v1Stale = bmAt(1L) ==
          bm25Rows(InvertedIndex.bm25SearchCurrent(s, r1, syncTerms, 10))
        require(v1Stale, "the pre-cutover version must keep serving r1")
        require(v2 == 2L, "cutover publish must land at manifest v2")
        // the resynced pipeline keeps ticking through the ordinary path
        publishDocs(s, cdc, cdcUpserts(docs, 20, " graftsync graftsync", 3L))
        tick(r2)
        val fresh = s"$base/fresh"
        freshIndex(s, cdc, fresh)
        def look(r: String) = postingsFrame(InvertedIndex.lookupCurrent(s, r, syncTerms))
        require(look(r2).collect().toSeq == look(fresh).collect().toSeq,
          "the resynced store diverges from a fresh build")
        look(r2)
      },
      Some(syncPostingsOracle(
        """|  SELECT doc_id, CASE
           |    WHEN doc_id % 20 = 0 THEN text || ' graftsync graftsync'
           |    WHEN doc_id % 10 = 0 THEN text || ' graftsync'
           |    ELSE text END AS text
           |  FROM documents WHERE doc_id % 10 <> 7""".stripMargin))),

    QDef("q208_sync_time_travel",
      // TIME TRAVEL over the SYNCED index (CdcSync.lookupIndexAsOf) —
      // the reproducibility read: "what retrieval context did the run
      // at CDC version V see", answered from the LIVE store with no
      // copies kept. A version maps to the admission-batch bound
      // (batchBase + version), and both the fragment and the
      // delete-fragment cuts are PARTITION prunes on the batch_id
      // directory key — an as-of read costs what the store cost THEN
      // (the q140 as-of discipline, re-expressed on the derived
      // store). The window reaches back to the last compaction fold:
      // the fold collapses per-version attribution (that is its point
      // — bounded read amplification), so compaction cadence IS the
      // time-travel-window dial, the parts-merging trade stated
      // honestly and gated: post-fold, the newest version still
      // serves identically and the pre-fold version REFUSES with the
      // folded-away error, never a silently wrong answer. Gates:
      // as-of V equals a fresh one-shot build of cdcSnapshotAt(V) for
      // EVERY retained version (0, 1, 2 — spanning an upsert and an
      // insert+delete tick). Output: the as-of v1 lookup (mid-history
      // — updates visible, later inserts and deletes not), stated in
      // closed form by the oracle.
      (s, d) => {
        import s.implicits._
        val base = scratchDir("q208")
        val (cdc, root) = (s"$base/cdc", s"$base/idx")
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        def tick() = syncIndex(s, cdc, root)
        EventStreams.initCdcState(docs.withColumn("seq", lit(0L)), cdc)
        tick()
        publishDocs(s, cdc, cdcUpserts(docs, 10, " graftsync", 1L))
        tick()
        publishDocs(s, cdc, cdcInserts(docs, 2).unionByName(cdcDeletes(docs, 7)))
        tick()
        def canon(df: DataFrame): Seq[(String, Long, String)] =
          postingsFrame(df).collect()
            .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
        // every retained version equals a fresh build of its snapshot —
        // three independent (own fresh root, read-only live store)
        // build-and-compare sections, overlapped (Par, guide §2.6)
        Par.all((0L to 2L).map(v => () => {
          val fr = s"$base/fresh-v$v"
          indexStore(s, fr, tokenized(EventStreams.cdcSnapshotAt(s, cdc, v)))
          require(canon(CdcSync.lookupIndexAsOf(s, root, syncTerms, v)) ==
              canon(InvertedIndex.lookupCurrent(s, fr, syncTerms)),
            s"as-of v$v diverges from a fresh build of snapshot v$v")
        }))
        val v1Rows = canon(CdcSync.lookupIndexAsOf(s, root, syncTerms, 1L))
        // the fold seals the window: newest still serves, pre-fold
        // versions refuse loudly
        InvertedIndex.compactStore(s, root, InvertedIndex.currentGen(root))
        require(canon(CdcSync.lookupIndexAsOf(s, root, syncTerms, 2L)) ==
            canon(InvertedIndex.lookupCurrent(s, root, syncTerms)),
          "post-fold, the newest version must still serve as-of")
        val folded = refuses("folded away") { CdcSync.lookupIndexAsOf(s, root, syncTerms, 1L) }
        require(folded, "a pre-fold version must refuse, never mis-serve")
        v1Rows.toDF("tok", "n_docs", "postings").orderBy(col("tok"))
      },
      Some(syncPostingsOracle(
        """|  SELECT doc_id, CASE
           |    WHEN doc_id % 10 = 0 THEN text || ' graftsync'
           |    ELSE text END AS text
           |  FROM documents""".stripMargin)))
  )

  val defs: Seq[QDef] =
    parity ++ sqlSurface ++ llmOps ++ sqlSurface2 ++ sqlSurface3 ++ pipeline ++
      curationOps ++ maintenanceOps ++ trainingOps ++ qualityOps ++ retrievalOps ++
      corpusOps ++ breadthOps ++ tpchComplete ++ retrievalAdmission ++ snapshotOps ++
      storeLifecycle

  def queries: Map[String, QueryFn] = defs.map(q => q.name -> q.fn).toMap
  def oracles: Map[String, String] =
    defs.collect { case QDef(n, _, Some(o)) => n -> o }.toMap
}
