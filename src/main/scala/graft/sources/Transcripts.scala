package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.ParquetTableIO

/** Sources for the transcript table (input_hint shape:
  * conv_id:string, turn_idx:int, role:string, text:string, tool:string,
  * ts:timestamp).
  *
  * Two producers:
  *  - [[fromTpch]]: a deterministic derivation from the driver's TPC-H-ish
  *    parquet tables. Every turn's text is a pure function of the joined
  *    columns, so a SQL oracle can re-derive it exactly — the per-turn
  *    text-equality invariant is checked end-to-end by the driver's DuckDB
  *    compare.
  *  - [[synthetic]]: a seedless, hash-driven generator for unit tests and
  *    the scaling bench — deterministic functions of the row index only
  *    (no RNG state), so output is identical at any parallelism.
  *
  * Text grammar (shared with graft.extract.Extract — single source of truth
  * for the regexes lives there):
  *   segments separated by " ; ";
  *   "define entity <name>[ with qty=<n>]"   — entity definition (+ state)
  *   "alias a<k> => <name>"                  — conversation-scoped binding
  *   "link <ref> -[<pred>]-> <ref>"          — relation mention;
  *                                             ref ∈ {self, a<k>, <name>}
  *   anything else                           — narration (ignored)
  */
object Transcripts {

  /** Derive a transcript corpus from the TPC-H tables in `sfDir`.
    *
    * One conversation per order:
    *   turn 0 (user): narration + "define entity customer:<c_name>"
    *   per lineitem k:
    *     turn 2k-1 (assistant): defines part (with qty state) + supplier,
    *                            binds alias a<k> -> part
    *     turn 2k   (tool):      relation mentions using the alias, `self`
    *                            (the conversation's principal = first
    *                            defined entity), and — on k%4==0 — an
    *                            undefined entity (exercises the
    *                            known-entities-only filter / minting path,
    *                            reference package/call_graph.py:276-315).
    *
    * Scale notes: part/supplier/customer are dimension tables that grow
    * with SF -> no hint, Spark's broadcast threshold decides;
    * orders⋈lineitem is the one big co-keyed join (AQE/SMJ). No UDFs —
    * the whole derivation is codegen'd column expressions.
    */
  def fromTpch(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val o = ParquetTableIO.read(spark, s"$sfDir/orders.parquet")
    val l = ParquetTableIO.read(spark, s"$sfDir/lineitem.parquet")
    val p = ParquetTableIO.read(spark, s"$sfDir/part.parquet")
    val s = ParquetTableIO.read(spark, s"$sfDir/supplier.parquet")
    val c = ParquetTableIO.read(spark, s"$sfDir/customer.parquet")

    val cname = concat(lit("customer:"), regexp_replace($"c_name", " ", "_"))
    val pname = concat(lit("part:"), regexp_replace($"p_name", " ", "_"))
    val sname = concat(lit("supplier:"), $"s_name")
    // container entity: the part's manufacturer ('#' normalized away so the
    // issue-ref pattern 'ref #N' stays unambiguous)
    val catname = concat(lit("category:"), regexp_replace($"p_brand", "[ #]", "_"))
    // The generated lineitem does NOT keep (l_orderkey, l_linenumber)
    // unique, so the per-conversation line sequence is a row_number over a
    // total order of the full natural key (deterministic at any
    // parallelism; per-order window, so no global sort).
    val wk = Window.partitionBy($"l_orderkey").orderBy(
      $"l_linenumber", $"l_partkey", $"l_suppkey",
      $"l_quantity", $"l_extendedprice", $"l_shipdate")
    val k = $"k"
    val kS = k.cast("string")
    val qtyS = round($"l_quantity" * 100).cast("long").cast("string")

    // part/supplier/customer grow linearly with scale factor, so they carry
    // no broadcast hint: Spark broadcasts them while their parquet size is
    // under its threshold, and above it AQE plans from runtime sizes (an
    // unconditional hint would OOM the driver at large SF).
    val turn0 = o
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(
        concat(lit("c"), $"o_orderkey".cast("string")).as("conv_id"),
        lit(0).as("turn_idx"),
        lit("user").as("role"),
        concat(
          lit("customer "), cname,
          lit(" opens order with priority "),
          regexp_replace($"o_orderpriority", " ", "_"),
          lit(" ; define entity "), cname).as("text"),
        lit("").as("tool"),
        $"o_orderdate".as("ts"))

    val li = l
      .withColumn("k", row_number().over(wk))
      .join(p, l("l_partkey") === p("p_partkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))

    val textA = concat(
      lit("define entity "), pname, lit(" with qty="), qtyS,
      lit(" extends "), catname,
      lit(" ; define entity "), sname,
      lit(" ; alias a"), kS, lit(" => "), pname)
    val textB = concat(
      lit("link "), sname, lit(" -[supplies]-> a"), kS,
      lit(" ; link self -[ordered]-> a"), kS,
      when(k % 3 === 0,
        concat(lit(" ; link a"), kS, lit(" -[returned_to]-> "), sname))
        .otherwise(lit("")),
      when(k % 4 === 0,
        concat(lit(" ; link self -[mentions]-> item:unknown_"),
          $"l_partkey".cast("string")))
        .otherwise(lit("")),
      // two-hop chain: one segment -> two relation mentions (L4 flatMap)
      when(k % 6 === 0,
        concat(lit(" ; chain self -[reordered]-> a"), kS,
          lit(" -[sourced_from]-> "), sname))
        .otherwise(lit("")),
      // issue cross-reference (narration segment: the grammar ignores it,
      // the side-table linker extracts it with regexp_extract_all)
      when(k % 5 === 0,
        concat(lit(" ; ref #"), ($"l_partkey" % 1500).cast("string")))
        .otherwise(lit("")))

    // both lineitem turns in ONE pass over the windowed join (inline of a
    // 2-struct array) — a union of two selects would execute the
    // row_number shuffle and the dimension joins twice
    val turnsAB = li.select(
      concat(lit("c"), $"l_orderkey".cast("string")).as("conv_id"),
      $"l_shipdate".as("ts"),
      inline(array(
        struct((k * 2 - 1).as("turn_idx"), lit("assistant").as("role"),
          textA.as("text"), lit("").as("tool")),
        struct((k * 2).as("turn_idx"), lit("tool").as("role"),
          textB.as("text"), lit("linker").as("tool")))))
      .select($"conv_id", $"turn_idx", $"role", $"text", $"tool", $"ts")

    turn0.unionByName(turnsAB)
  }

  /** DuckDB SQL producing exactly [[fromTpch]] (ts formatted as string
    * `ts_s` — timestamps never cross the engine boundary raw). Kept next to
    * the Scala derivation so they evolve together. */
  /** The per-order line sequence shared by the Scala derivation and every
    * oracle CTE: row_number over the full natural key of lineitem. */
  val lineSeqSql: String =
    "row_number() OVER (PARTITION BY l_orderkey ORDER BY " +
      "l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_shipdate)"

  val fromTpchOracleSql: String = {
    val cname = "'customer:'||replace(c_name,' ','_')"
    val pname = "'part:'||replace(p_name,' ','_')"
    val sname = "'supplier:'||s_name"
    val qty = "CAST(CAST(ROUND(l_quantity*100) AS BIGINT) AS VARCHAR)"
    s"""WITH li AS (
  SELECT 'c'||l_orderkey AS conv_id, $lineSeqSql AS k,
         $pname AS pname, $sname AS sname, $qty AS qty,
         'category:'||regexp_replace(p_brand, '[ #]', '_', 'g') AS cat,
         l_partkey AS pk, l_shipdate
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
)
SELECT 'c'||o_orderkey AS conv_id, CAST(0 AS BIGINT) AS turn_idx,
       'user' AS role,
       'customer '||$cname||' opens order with priority '||replace(o_orderpriority,' ','_')||' ; define entity '||$cname AS text,
       '' AS tool, strftime(o_orderdate,'%Y-%m-%d %H:%M:%S') AS ts_s
FROM orders JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT conv_id, CAST(k*2-1 AS BIGINT), 'assistant',
       'define entity '||pname||' with qty='||qty||' extends '||cat||' ; define entity '||sname||' ; alias a'||k||' => '||pname,
       '', strftime(l_shipdate,'%Y-%m-%d %H:%M:%S')
FROM li
UNION ALL
SELECT conv_id, CAST(k*2 AS BIGINT), 'tool',
       'link '||sname||' -[supplies]-> a'||k||' ; link self -[ordered]-> a'||k ||
         CASE WHEN k % 3 = 0 THEN ' ; link a'||k||' -[returned_to]-> '||sname ELSE '' END ||
         CASE WHEN k % 4 = 0 THEN ' ; link self -[mentions]-> item:unknown_'||pk ELSE '' END ||
         CASE WHEN k % 6 = 0 THEN ' ; chain self -[reordered]-> a'||k||' -[sourced_from]-> '||sname ELSE '' END ||
         CASE WHEN k % 5 = 0 THEN ' ; ref #'||(pk % 1500) ELSE '' END,
       'linker', strftime(l_shipdate,'%Y-%m-%d %H:%M:%S')
FROM li"""
  }

  /** Deterministic synthetic corpus: `nConvs` conversations, each with
    * `turnsPerConv` turns over a vocabulary of `vocab` entities, with one
    * hot entity appearing in `hotPct`% of relation turns (skew fixture for
    * the linking joins above the broadcast threshold / connected components).
    *
    * All "randomness" is `xxhash64` of the row key — identical output at
    * local[8] and local[32], no RNG state, no collect.
    */
  def synthetic(
      spark: SparkSession,
      nConvs: Long,
      turnsPerConv: Int = 16,
      vocab: Long = 1000,
      hotPct: Int = 10): DataFrame = {
    import spark.implicits._
    val turns = spark
      .range(nConvs * turnsPerConv)
      .select(
        (col("id") / turnsPerConv).cast("long").as("cid"),
        pmod(col("id"), lit(turnsPerConv.toLong)).cast("int").as("turn_idx"))
    def h(seed: Int) = pmod(xxhash64(col("cid"), col("turn_idx"), lit(seed)), lit(vocab))
    val ent = concat(lit("topic:t"), h(1).cast("string"))
    val hot = pmod(xxhash64(col("cid"), col("turn_idx"), lit(7)), lit(100L)) < hotPct
    val obj = when(hot, lit("topic:t0")).otherwise(ent)
    val aliasK = pmod(col("turn_idx").cast("long"), lit(4L)).cast("string")
    val mode = pmod(xxhash64(col("cid"), col("turn_idx"), lit(3)), lit(4L))
    val text = when(col("turn_idx") === 0,
      concat(lit("define entity agent:a"), col("cid").cast("string")))
      .when(mode === 0,
        concat(lit("define entity "), obj, lit(" with qty="),
          h(5).cast("string"), lit(" ; alias a"), aliasK, lit(" => "), obj))
      .when(mode === 1,
        concat(lit("link self -[discusses]-> a"), aliasK))
      .when(mode === 2,
        concat(lit("link "), obj, lit(" -[relates_to]-> self")))
      .otherwise( // two-hop chain (L4): one segment -> two relation mentions
        concat(lit("chain self -[refines]-> a"), aliasK,
          lit(" -[cites]-> "), obj))
    turns.select(
      concat(lit("s"), col("cid").cast("string")).as("conv_id"),
      col("turn_idx"),
      when(col("turn_idx") % 2 === 0, lit("user")).otherwise(lit("assistant")).as("role"),
      text.as("text"),
      lit("").as("tool"),
      timestamp_seconds(lit(1700000000L) + col("cid") * 7 + col("turn_idx")).as("ts"))
  }
}
