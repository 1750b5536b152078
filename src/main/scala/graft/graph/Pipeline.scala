package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.sources.Transcripts
import graft.extract.Extract
import graft.link.Resolve
import graft.triples.Triples
import graft.canonical.Canonical
import graft.ops.{Clustering, Dedup}
import graft.version.Versions

/** The staged KG-construction dataflow. Every stage reads the *committed
  * table* of its upstream stage (not its plan), so:
  *   - each stage computes exactly once per input corpus (no re-derivation
  *     across the many consumers of `mentions`/`resolved`);
  *   - a killed run resumes at the first uncommitted stage;
  *   - per-stage lineage/metrics land next to the tables (StageStore).
  *
  * Every committed table is declared once, here, as a [[Stage]]: its name,
  * its inputs and its build, which reads only those inputs. [[stages]] are
  * the ones `runAll` schedules; [[hosted]] ones are committed by their
  * first consuming query. A table is committed only when its commit pays
  * for itself (the S/C rule: derivation cost × (consumers − 1) above
  * commit cost). [[triples]] and [[versionEdges]] fail it: each is a
  * filter of committed tables that its consumers plan in milliseconds, so
  * they are views, not stages.
  */
object Pipeline {

  /** One committed table: its name, the stages its build reads, and the
    * build, which receives exactly those stages through [[Inputs]]. */
  private[graft] final case class Stage(name: String, inputs: Seq[String],
      build: Inputs => DataFrame)

  /** What a build may read: the session and corpus dir, its declared
    * stages (`in("nodes")`, committed first if they are not), their
    * committed row counts (`in.rows("nodes")`) and raw corpus tables
    * (`in.file("embeddings")`). Reading a stage the entry does not declare
    * throws IllegalArgumentException before the build writes anything. */
  private[graft] final class Inputs(val spark: SparkSession, val sfDir: String, of: Stage) {
    private def declared(name: String): Stage = {
      require(of.inputs.contains(name), s"stage ${of.name} reads undeclared input $name")
      registry(name)
    }
    def apply(name: String): DataFrame = run(spark, sfDir, declared(name))
    def rows(name: String): Long = { apply(name); StageStore.committedRows(spark, sfDir, name) }
    def file(table: String): DataFrame = ParquetTableIO.read(spark, s"$sfDir/$table.parquet")
  }

  /** The stage DAG `runAll` schedules, in dependency order (reference
    * lifecycle, SURVEY.md §3.1). */
  private[graft] val stages: Seq[Stage] = Seq(
    Stage("mentions", Nil, in => Extract.mentions(Transcripts.fromTpch(in.spark, in.sfDir))),
    Stage("resolved", Seq("mentions"), in => Resolve.resolved(in("mentions"))),
    // the entity vocabulary (a distinct over the entity_def mention stream,
    // one corpus-sized shuffle) runs once, here; consumers read `nodes`
    Stage("nodes", Seq("mentions"), in => Canonical.nodes(Triples.entityNames(in("mentions")))),
    Stage("minted_nodes", Seq("resolved", "nodes"), in => {
      val known = in("nodes")
      Canonical.mintedNodes(in.rows("nodes"),
        Triples.mintedNames(in("resolved"), known.select("canonical_name")))
    }),
    // built from `resolved`, not `triples`: `Canonical.edges` inner-joins
    // each object against `nodes`, which drops an unknown object just as
    // the triples' semi join does
    Stage("edges", Seq("resolved", "nodes"), in => Canonical.edges(in("resolved"), in("nodes"))),
    Stage("version_nodes", Seq("mentions"), in => Versions.versionNodes(in("mentions"))))

  /** The stages a query commits on first use, in dependency order. */
  private[graft] val hosted: Seq[Stage] = Seq(
    // the 7 transcript-consuming queries would otherwise each re-run the
    // orders⋈lineitem join + per-order window (~31 s of the 84 s query
    // total at sf0.1, VERDICT r02 #3). Not an input of `mentions`, which
    // keeps the fused derivation+extraction plan: at sf0.1 (r02) the text
    // write+read roundtrip cost ~30 s against 21.8-22.7 s for the whole
    // fused stage (BENCH_extract_kernel_sf01.json). In a real deployment
    // transcripts ARE the input table.
    Stage("transcripts", Nil, in => Transcripts.fromTpch(in.spark, in.sfDir)),
    // corpus/month/conv leaves with dense bucketed IDs, shared by four
    // queries (hierarchy nodes + edges, the conv→entity bridge, config rows)
    Stage("hier_nodes", Seq("transcripts"), in => Hierarchy.nodes(in("transcripts"))),
    // single-Lloyd clustering (vec_id, cluster), read by the kg_cluster_*
    // queries, emb_clusters and `ensemble` (VERDICT r03 #6)
    Stage("node_clusters", Nil, in => Clustering.lloydStep(in.file("embeddings"))),
    // per-type contiguous local index shared by the PyG export pair
    Stage("pyg_local", Seq("nodes"), in => Canonical.denseIdsBucketedBy(in("nodes"), "node_type")),
    // 8-gram decontamination hits (doc_id, n_hits) of the benchmark split
    // (doc_id % 100 == 0), read by doc_decontam, doc_source_stats and
    // doc_clean_corpus (VERDICT r05 #4)
    Stage("decontam_hits", Nil, in => {
      val d = in.file("documents")
      Dedup.decontaminate(d, d.filter(col("doc_id") % 100 === 0))
        .select(col("doc_id").cast("long").as("doc_id"), col("n_hits"))
    }),
    // two-member co-assignment read by emb_cluster_ensemble and
    // emb_cluster_align: member A is `node_clusters`
    Stage("ensemble", Seq("node_clusters"), in =>
      Clustering.ensemble(in("node_clusters"), in.file("embeddings"))),
    // the verified near-dup pairs (a, b, jaccard) of the exact-dup
    // representatives: minhash -> candidates -> verify once per corpus
    // (VERDICT r04 #5)
    Stage("dup_pairs", Nil, in => Dedup.dupPairs(in.file("documents"))),
    Stage("dup_clusters", Seq("dup_pairs"), in =>
      Dedup.dupClustersFrom(in.file("documents"), in("dup_pairs"))),
    // index once, probe incrementally (Dedup.checkAgainstIndex)
    Stage("dup_index", Nil, in => Dedup.dupIndex(in.file("documents"))))

  /** Every committed table, pipeline and hosted. */
  private[graft] def registered: Seq[Stage] = stages ++ hosted

  private lazy val registry: Map[String, Stage] = {
    val byName = registered.groupBy(_.name)
    require(byName.forall(_._2.size == 1), s"stage names declared twice: ${registered.map(_.name)}")
    byName.map { case (n, s) => n -> s.head }
  }

  /** Commit `s` unless committed and return a reader of its table. Its
    * inputs resolve inside the build, so reading a committed stage touches
    * none of them. */
  private def run(spark: SparkSession, sfDir: String, s: Stage): DataFrame =
    StageStore.getOrCreate(spark, sfDir, s.name)(s.build(new Inputs(spark, sfDir, s)))

  /** The committed table of the registered stage `name`. */
  private[graft] def stage(spark: SparkSession, sfDir: String, name: String): DataFrame =
    run(spark, sfDir, registry(name))

  def mentions(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "mentions")
  def resolved(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "resolved")
  def nodes(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "nodes")
  def mintedNodes(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "minted_nodes")
  def edges(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "edges")
  def versionNodes(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "version_nodes")
  def transcripts(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "transcripts")
  def hierNodes(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "hier_nodes")
  def nodeClusters(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "node_clusters")
  def pygLocal(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "pyg_local")
  def decontamHits(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "decontam_hits")
  def ensemble(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "ensemble")
  def dupClusters(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "dup_clusters")
  def dupIndex(spark: SparkSession, sfDir: String): DataFrame = stage(spark, sfDir, "dup_index")

  /** Resolved relations whose object is a defined entity: a view, not a
    * stage. It is `resolved` less the relations with an unknown object
    * (at sf0.1 1.41 M of 1.51 M rows, 9.6 of 10.5 MB), reached by one
    * broadcast semi join, so committing it cost a write and a re-read of
    * nearly `resolved` again; its query consumers plan the join instead, and
    * [[edges]] needs no such filter. Built over committed `resolved` and
    * `nodes` (one row per name by construction), it runs no Spark job once
    * those have committed. */
  def triples(spark: SparkSession, sfDir: String): DataFrame =
    Triples.knownOnly(resolved(spark, sfDir), nodes(spark, sfDir).select("canonical_name"))

  /** A view, not a stage: a filter and projection of the committed
    * `version_nodes` with one query consumer, so a commit would only add a
    * write job. Runs no Spark job once `version_nodes` has committed. */
  def versionEdges(spark: SparkSession, sfDir: String): DataFrame =
    Versions.versionEdges(versionNodes(spark, sfDir))

  /** Append-only incremental build over a NEW batch of conversations.
    *
    * Extraction and resolution are conversation-local (the resolver's
    * groups and every window and join key on conv_id), so the new batch
    * is processed ALONE and unioned with the committed stage tables, whose
    * schemas its own tables share — the existing corpus is
    * never re-derived. The only whole-corpus step is the vocabulary
    * semi-join (a relation in an old conversation may name an entity the
    * new batch just defined), which re-runs as ONE hash semi-join over
    * the unioned tables — the 100 TB cost of an append is
    * O(new batch) + one join, not O(corpus).
    *
    * Dense IDs are deliberately NOT incremental: the bucketed assigner
    * re-keys from the unioned triple set downstream (a new name shifts
    * its bucket's sequence — stable IDs across appends would need an ID
    * ledger, a different contract than the reference's rebuild-world
    * semantics, knowledge_graph.py rebuilds all IDs per run too).
    * Returns (mentions, resolved, triples) over the combined corpus. */
  def appendBatch(committedMentions: DataFrame, committedResolved: DataFrame,
      newTranscripts: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // materialize the new batch's extraction ONCE — it feeds three arms
    // (mention union, resolve, vocabulary) and regex extraction is the
    // expensive step; a production append would StageStore-commit it,
    // matching the rest of this module
    val nm = Extract.mentions(newTranscripts).localCheckpoint()
    val m = committedMentions.unionByName(nm)
    val r = committedResolved.unionByName(Resolve.resolved(nm))
    // the vocabulary without its distinct: a left-semi join needs no
    // distinct, and above the broadcast threshold this side then reaches the
    // join through its own shuffle stage, which AQE's skew rule needs
    (m, r, Triples.knownOnly(r, Triples.entityMentions(m)))
  }

  /** Run every stage to completion (idempotent / resumable) and return the
    * emitted edge count: the committed edge table's footer row sum (its
    * `output_rows`), so no count job runs. */
  def runAll(spark: SparkSession, sfDir: String): Long = {
    schedule(spark, sfDir, stages)
    StageStore.committedRows(spark, sfDir, "edges")
  }

  /** Commit every stage of `table` as soon as its inputs have committed:
    * each stage is a `Future` on its inputs' futures, so independent
    * stages run as concurrent Spark jobs from their own driver threads
    * and back-fill the cores another stage's task tail leaves idle. The
    * build runs in `blocking`, so a global pool of one or two threads
    * grows instead of starving. Stage outputs are pure functions of
    * committed inputs, so the schedule changes no commit.
    *
    * The overlap pays only where the host has idle CPU while the
    * critical path (mentions → resolved → edges, with minted_nodes beside
    * edges) runs: it adds no work, it moves work off that path. On
    * perfbench `build` (`local[4]` on 4 cores) the JVM keeps 0.76 of the
    * cores busy at the sequential order, and `runAll` is faster. At sf0.1 with
    * `local[32]` on 4 cores (0.91 busy) a free task slot is not a free
    * core: an overlapped stage takes CPU from the stage beside it, and
    * over 8 cold pairs `runAll` was no faster (BENCH_stage_dag_walls.json).
    *
    * A table with an input not declared before its stage is rejected
    * before any stage starts. Returns once every stage has committed,
    * failed, or been skipped for a failed input, so no stage commits
    * after the return; then rethrows the failure of the first failed
    * stage in table order (a skipped stage carries its input's failure).
    * A stage's future holds its failure instead of failing: a fatal
    * error (a StackOverflowError from a deep plan, an OutOfMemoryError)
    * thrown in a `Future` body is rethrown on the pool thread and never
    * completes the future, which would leave this wait hanging. */
  private[graft] def schedule(spark: SparkSession, sfDir: String, table: Seq[Stage]): Unit = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val names = table.map(_.name)
    table.zipWithIndex.foreach { case (s, k) =>
      require(s.inputs.forall(names.take(k).contains),
        s"stage ${s.name}: every input must be declared before it")
    }
    val failures = table.foldLeft(Map.empty[String, Future[Option[Throwable]]]) { (started, s) =>
      started + (s.name -> Future.sequence(s.inputs.map(started)).map { in =>
        in.flatten.headOption.orElse(blocking {
          try { run(spark, sfDir, s); None } catch { case e: Throwable => Some(e) }
        })
      })
    }
    Await.result(Future.sequence(table.map(s => failures(s.name))), Duration.Inf)
      .flatten.headOption.foreach(throw _)
  }

  /** spark-submit entry point: `graft.graph.Pipeline <sfDir>`. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // SPARK_MASTER, when set, points the build at a cluster
    val spark = session(envCpus, sys.env.get("SPARK_MASTER"))
    val t0 = System.nanoTime()
    val nEdges = runAll(spark, sfDir)
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"pipeline":"kg","sfDir":"$sfDir","edges":$nEdges,"sec":$sec,"triples_per_sec":${nEdges / sec}}""")
    StageStore.metrics(spark, sfDir).show(100, truncate = false)
    // per-stage lineage rollup: how many writer partitions each commit
    // produced and how many rows they hold
    StageStore.lineage(spark, sfDir).groupBy("stage")
      .agg(count(lit(1)).as("parts"), sum("output_rows").as("rows"))
      .orderBy("stage").show(100, truncate = false)
    spark.stop()
  }

  /** Size of Spark's cache of Janino-compiled classes (a static conf,
    * default 100). A cold `runAll` generates about 100 classes and the 92
    * driver queries about 1,200, so at the default a second run in one JVM
    * recompiles much of what the first compiled. */
  private val codegenCacheEntries = 4096

  /** `SPARK_GRAFT_CPUS`, the local core count of every entry point. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The one session factory: `local[cpus]` (or `master`), one shuffle
    * partition per core, UTC session time zone (the oracle's), UI off, and
    * room for [[codegenCacheEntries]] compiled classes. */
  def session(cpus: Int, master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
