package graft.canonical

import org.apache.spark.sql.DataFrame
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

  /** Scalable dense-ID assignment: two-phase with no global sort.
    * Phase 1: deterministic bucket = first `hexChars` hex chars of
    * md5(key) (16^hexChars buckets); per-bucket counts -> prefix offsets
    * on the driver. Phase 2: row_number within bucket (ordered by key) +
    * bucket offset.
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
    * rows through one task at corpus scale). Within-group order is
    * `ORDER BY substr(md5(key),1,hexChars), key` — any SQL engine
    * reproduces it with one partitioned row_number.
    *
    * The bucket is the md5 prefix read as an integer (same order as the
    * hex string). The per-(group, bucket) counts are collected and turned
    * into exclusive prefix sums on the driver, one array of 16^hexChars
    * offsets per group, and the ID projection reads its offset from that
    * literal (group -> array, indexed by bucket): no offset table, no
    * join, no broadcast job. The literal holds |groups| × 16^hexChars
    * longs, so `partCol` must be a BOUNDED vocabulary (node types), never
    * a corpus-scaling key. Rows with a null key or group get no ID and
    * are dropped. */
  def denseIdsBucketedBy(names: DataFrame, partCol: String,
      keyCol: String = "canonical_name", idCol: String = "local_idx",
      hexChars: Int = 2): DataFrame = {
    require(names.schema(partCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"denseIdsBucketedBy: group column '$partCol' must be StringType " +
        "(a bounded label vocabulary) — cast numeric group keys first")
    val nBuckets = 1 << (4 * hexChars)
    // the bucketed input is consumed twice (count pass + id pass):
    // materialize it once so the upstream plan doesn't execute twice.
    // LAZY checkpoint: the counts collect right below is the first action
    // and scans every partition, so it materializes the cache in the same
    // job instead of paying a separate eager-checkpoint job first.
    val withB = names
      .filter(col(partCol).isNotNull && col(keyCol).isNotNull)
      .withColumn("_b", conv(substring(md5(col(keyCol)), 1, hexChars), 16, 10).cast("int"))
      .localCheckpoint(false)
    val offsets = withB.groupBy(partCol, "_b").count().collect()
      .groupBy(_.getString(0)).map { case (g, rows) =>
        val sizes = new Array[Long](nBuckets)
        rows.foreach(r => sizes(r.getInt(1)) = r.getLong(2))
        g -> sizes.scanLeft(0L)(_ + _).init.toSeq
      }
    val offsetsOf = typedLit(offsets)
    val w = Window.partitionBy(partCol, "_b").orderBy(keyCol)
    withB
      .withColumn(idCol, (row_number().over(w) - 1 +
        element_at(offsetsOf(col(partCol)), col("_b") + 1)).cast("long"))
      .drop("_b")
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

  /** Minted node rows appended after `knownCount` known nodes, IDs
    * continuing densely (reference package/call_graph.py:283-315: fresh
    * sequential IDs offset by the existing max). Known IDs are dense
    * 0..n-1, so their count is the offset: the caller reads it from the
    * committed node table's footers, with no aggregate over the table. */
  def mintedNodes(knownCount: Long, mintedNames: DataFrame): DataFrame =
    denseIdsBucketed(mintedNames)
      .select(
        split_part(col("canonical_name"), lit(":"), lit(1)).as("node_type"),
        (col("node_id") + knownCount).as("node_id"),
        col("canonical_name"))

  /** FK remap: relations (subj, pred, obj, ...) -> edge rows with dense
    * IDs, via two inner joins against the node table
    * (package/hierarchical_graph.py:334-339): Spark broadcasts the node
    * table while it is under its broadcast threshold and shuffles once it
    * outgrows it, where AQE splits the partitions of hot canonical names
    * at runtime. The inner join on `obj` keeps exactly the relations whose
    * object is a node, so over resolved relations and a node table with
    * one row per name this equals the remap of
    * `Triples.knownOnly(resolved, vocabulary)`: the pipeline passes
    * `resolved` and runs no separate semi join. */
  def edges(relations: DataFrame, nodes: DataFrame): DataFrame = {
    // one dimension frame for both endpoints: when the node table is
    // broadcast, both joins broadcast the same plan and Spark reuses that
    // exchange
    val dim = nodes.select("canonical_name", "node_type", "node_id")
    relations
      .join(dim.as("src"), col("subj") === col("src.canonical_name"))
      .join(dim.as("dst"), col("obj") === col("dst.canonical_name"))
      .select(
        col("pred").as("edge_type"),
        col("src.node_type").as("src_type"), col("src.node_id").as("src_id"),
        col("dst.node_type").as("dst_type"), col("dst.node_id").as("dst_id"),
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
