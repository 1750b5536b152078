package graft.canonical

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Canonicalization: deterministic dense node IDs + FK remap.
  *
  * Reference analog: the dense ID re-sequencing step
  * (package/hierarchical_graph.py:301-353): reset_index -> new IDs, then
  * remap edge endpoints by join. The reference's IDs come from walk-order
  * counters (order-dependent, single-threaded); ours are a pure function of
  * the data key, so they are identical at any parallelism (the N-vs-4N
  * determinism requirement).
  */
object Canonical {

  /** Dense 0..n-1 IDs ordered by the key column via one global window.
    * Test/debug helper ONLY — a no-partition window funnels the whole
    * vocabulary through a single task; the pipeline uses
    * [[denseIdsBucketed]]. */
  def denseIds(names: DataFrame, keyCol: String = "canonical_name",
      idCol: String = "node_id"): DataFrame =
    names.withColumn(idCol,
      (row_number().over(Window.orderBy(col(keyCol))) - 1).cast("long"))

  /** Scalable dense-ID assignment: two-phase with no global sort.
    * Phase 1: deterministic bucket = first `hexChars` hex chars of
    * md5(key) (16^hexChars buckets); per-bucket counts -> prefix offsets
    * (16^hexChars rows, collected + broadcast). Phase 2: row_number within
    * bucket (ordered by key) + bucket offset.
    *
    * IDs are dense, unique, and a pure function of the key set — stable
    * across cluster sizes. The resulting total order is exactly
    * `ORDER BY substr(md5(key),1,hexChars), key`, which any SQL engine can
    * reproduce — so the DuckDB oracle re-keys with that expression instead
    * of needing Spark's hash. Sizing: each bucket sorts on one task, so
    * pick hexChars with bucketRows = |vocab| / 16^hexChars comfortably in
    * task memory (hexChars=3 -> 4096 buckets -> ~250k rows/bucket at 1B
    * entities).
    *
    * Implemented as the single-group case of [[denseIdsBucketedBy]] — ONE
    * copy of the offset/window logic keeps the oracle ordering contract
    * in one place. */
  def denseIdsBucketed(names: DataFrame, keyCol: String = "canonical_name",
      idCol: String = "node_id", hexChars: Int = 2): DataFrame =
    denseIdsBucketedBy(names.withColumn("_g", lit("")), "_g",
      keyCol, idCol, hexChars).drop("_g")

  /** Per-group dense IDs: local 0..n_g-1 within each `partCol` group —
    * the contiguous per-type row index a tensor export (PyG HeteroData)
    * needs. Same two-phase shape as [[denseIdsBucketed]], keyed by
    * (group, bucket); NO per-group single-task window (a plain
    * `Window.partitionBy(group)` would funnel each type's billions of
    * rows through one task at corpus scale). The collected offset table
    * is |groups| × 16^hexChars rows, so `partCol` must be a BOUNDED
    * vocabulary (node types), never a corpus-scaling key. Within-group
    * order is `ORDER BY substr(md5(key),1,hexChars), key` — any SQL
    * engine reproduces it with one partitioned row_number. */
  def denseIdsBucketedBy(names: DataFrame, partCol: String,
      keyCol: String = "canonical_name", idCol: String = "local_idx",
      hexChars: Int = 2): DataFrame = {
    require(names.schema(partCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"denseIdsBucketedBy: group column '$partCol' must be StringType " +
        "(a bounded label vocabulary) — cast numeric group keys first")
    val spark = names.sparkSession
    // the bucketed input is consumed twice (count pass + id pass):
    // materialize it once so the upstream plan doesn't execute twice.
    // LAZY checkpoint: the counts collect right below is the first action
    // and scans every partition, so it materializes the cache in the same
    // job instead of paying a separate eager-checkpoint job first.
    val withB = names.withColumn("_b",
      substring(md5(col(keyCol)), 1, hexChars))
      .localCheckpoint(false)
    val counts = withB.groupBy(partCol, "_b").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val offsets = counts.groupBy(_._1).toSeq.flatMap { case (g, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.map(_._2).zip(sorted.scanLeft(0L)(_ + _._3))
        .map { case (b, off) => (g, b, off) }
    }
    val offsetsDf = spark.createDataFrame(offsets).toDF(partCol, "_b", "_off")
    val w = Window.partitionBy(partCol, "_b").orderBy(keyCol)
    withB
      .join(broadcast(offsetsDf), Seq(partCol, "_b"))
      .withColumn(idCol, (row_number().over(w) - 1 + col("_off")).cast("long"))
      .drop("_b", "_off")
  }

  /** Node table from canonical names: (node_type, node_id, canonical_name).
    * node_type is the name's namespace prefix (the Neo4j label analog,
    * package/knowledge_graph.py:561-570). */
  def nodes(entityNames: DataFrame): DataFrame =
    denseIdsBucketed(entityNames)
      .select(
        split_part(col("canonical_name"), lit(":"), lit(1)).as("node_type"),
        col("node_id"),
        col("canonical_name"))

  /** Minted node rows appended after the known vocabulary, IDs continuing
    * densely (reference package/call_graph.py:283-315: fresh sequential IDs
    * offset by the existing max). */
  def mintedNodes(knownNodes: DataFrame, mintedNames: DataFrame): DataFrame = {
    val offset = knownNodes.agg(
      coalesce(max(col("node_id")) + 1, lit(0L)).as("_off"))
    denseIdsBucketed(mintedNames)
      .crossJoin(broadcast(offset))
      .select(
        split_part(col("canonical_name"), lit(":"), lit(1)).as("node_type"),
        (col("node_id") + col("_off")).as("node_id"),
        col("canonical_name"))
  }

  /** FK remap: triples (subj, pred, obj, ...) -> edge rows with dense IDs,
    * via two size-gated joins against the node table
    * (package/hierarchical_graph.py:334-339): broadcast while the node
    * table fits, a shuffle join once it outgrows the gate, where AQE
    * splits the partitions of hot canonical names at runtime. */
  def edges(triples: DataFrame, nodes: DataFrame): DataFrame = {
    val src = nodes.select(
      col("canonical_name").as("subj"),
      col("node_type").as("src_type"), col("node_id").as("src_id"))
    val dst = nodes.select(
      col("canonical_name").as("obj"),
      col("node_type").as("dst_type"), col("node_id").as("dst_id"))
    triples.join(Joins.dim(src), Seq("subj")).join(Joins.dim(dst), Seq("obj"))
      .select(
        col("pred").as("edge_type"),
        col("src_type"), col("src_id"),
        col("dst_type"), col("dst_id"),
        col("conv_id"), col("turn_idx"), col("mention_idx"))
  }

  /** Cross-conversation surface-form grouping (reference import grouping,
    * package/knowledge_graph.py:926-949 / A1): identical canonical names
    * across conversations collapse to one row carrying the set of
    * conversations that defined them. */
  def aliasGroups(mentions: DataFrame): DataFrame =
    mentions
      .filter(col("kind") === "entity_def")
      .groupBy(col("subj").as("canonical_name"))
      .agg(
        countDistinct(col("conv_id")).cast("long").as("n_convs"),
        min(col("conv_id")).as("first_conv"),
        max(col("conv_id")).as("last_conv"))
}
