package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-contained HTML visualization of a BOUNDED subgraph (reference
  * pyvis export, knowledge_graph.py / README.md viz section — SURVEY S10).
  *
  * Scale contract: the driver-side collect happens only AFTER an explicit
  * top-k cut (highest-degree nodes + their induced edges, both
  * TakeOrderedAndProject plans), so the export is O(k) regardless of
  * corpus size — the same "viz shows a neighborhood, not the corpus"
  * behavior as the reference. The HTML embeds its data as JSON and draws
  * on a bare <canvas> (circle layout, no external JS/CDN), so the
  * artifact is a single portable file.
  *
  * Driven by `graft.tools.Probe viz <sfDir> <outFile> [k]`.
  */
object Viz {

  // full JSON-string escaping incl. control chars, plus '/' so a name
  // containing "</script>" can never terminate the script element
  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case '/' => "\\/"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def html(nodes: Seq[(Long, String, String)],
      edges: Seq[(Long, Long, String)]): String = {
    val nj = nodes.map { case (id, t, n) =>
      s"""{"id":$id,"type":"${esc(t)}","name":"${esc(n)}"}"""
    }.mkString("[", ",", "]")
    val ej = edges.map { case (s, d, p) =>
      s"""{"s":$s,"d":$d,"p":"${esc(p)}"}"""
    }.mkString("[", ",", "]")
    s"""<!doctype html><html><head><meta charset="utf-8">
       |<title>graft subgraph</title></head><body>
       |<canvas id="c" width="1200" height="900"></canvas>
       |<script>
       |const nodes = $nj, edges = $ej;
       |const ctx = document.getElementById('c').getContext('2d');
       |const R = 400, cx = 600, cy = 450;
       |const pos = {};
       |nodes.forEach((n, i) => {
       |  const a = 2 * Math.PI * i / nodes.length;
       |  pos[n.id] = [cx + R * Math.cos(a), cy + R * Math.sin(a)];
       |});
       |ctx.strokeStyle = '#bbb';
       |edges.forEach(e => {
       |  const [x1, y1] = pos[e.s], [x2, y2] = pos[e.d];
       |  ctx.beginPath(); ctx.moveTo(x1, y1); ctx.lineTo(x2, y2); ctx.stroke();
       |});
       |const colors = {};
       |let ci = 0;
       |nodes.forEach(n => {
       |  if (!(n.type in colors)) colors[n.type] = 'hsl(' + (60 * ci++) + ',70%,50%)';
       |  const [x, y] = pos[n.id];
       |  ctx.fillStyle = colors[n.type];
       |  ctx.beginPath(); ctx.arc(x, y, 5, 0, 7); ctx.fill();
       |  ctx.fillStyle = '#333'; ctx.font = '9px sans-serif';
       |  ctx.fillText(n.name, x + 7, y + 3);
       |});
       |</script></body></html>""".stripMargin
  }

  /** Top-k-by-degree induced subgraph -> single HTML file. */
  def export(spark: SparkSession, sfDir: String, outFile: String,
      k: Int = 100): Unit = {
    val nodes = graft.graph.Pipeline.nodes(spark, sfDir)
    val edges = graft.graph.Pipeline.edges(spark, sfDir)
    val deg = edges.groupBy(col("src_id").as("node_id")).count()
      .unionByName(edges.groupBy(col("dst_id").as("node_id")).count())
      .groupBy("node_id").agg(sum("count").as("deg"))
    val top = nodes.join(deg, Seq("node_id"))
      .orderBy(col("deg").desc, col("node_id")).limit(k)
      .select(col("node_id"), col("node_type"), col("canonical_name"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val ids = top.map(_._1).toSet
    val idsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.toSeq.map(Tuple1(_))))
      .toDF("node_id")
    // distinct + ordered BEFORE the cap: mention-level edge rows repeat
    // per occurrence, and an unordered limit is partition-order
    // nondeterministic — both would make the exported edge set differ
    // between runs on identical data
    val induced = edges
      .join(idsDf.withColumnRenamed("node_id", "src_id"), Seq("src_id"))
      .join(idsDf.withColumnRenamed("node_id", "dst_id"), Seq("dst_id"))
      .select(col("src_id"), col("dst_id"), col("edge_type"))
      .distinct()
      .orderBy(col("src_id"), col("dst_id"), col("edge_type"))
      .limit(k * 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    Files.write(Paths.get(outFile),
      html(top.toSeq, induced.toSeq).getBytes(StandardCharsets.UTF_8))
  }
}
