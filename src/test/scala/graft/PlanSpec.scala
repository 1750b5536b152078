package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{AppendColumnsExec, AppendColumnsWithObjectExec,
  FileSourceScanExec, SortExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{Partial, WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions._
import graft.graph.{ParquetTableIO, Pipeline}
import graft.ops.TextOps

/** Physical-plan quality gates: the properties that matter at 100 TB,
  * asserted so a regression (lost broadcast, lost pushdown, lost pruning)
  * fails CI instead of shipping a 100x slower plan. */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("triple-forming join broadcasts the entity vocabulary") {
    val m = graft.extract.Extract.mentions(
      graft.sources.Transcripts.fromTpch(spark, sfDir))
    val t = graft.triples.Triples.knownOnly(
      graft.link.Resolve.resolved(m), graft.triples.Triples.entityNames(m))
    val p = plan(t)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast semi join, got:\n${p.take(2000)}")
  }

  test("resolved: one FileScan, one hash exchange on conv_id, no broadcast") {
    withStageRoot {
      val p = graft.link.Resolve.resolved(graft.graph.Pipeline.mentions(spark, sfDir))
        .queryExecution.executedPlan
      val keys = PlanWalk.collect(p) {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
          case other => Seq(other.toString)
        }
      }
      assert(keys === Seq(Seq("conv_id")), p.toString.take(3000))
      assert(PlanWalk.collect(p) { case s: FileSourceScanExec => s }.size === 1, p.toString.take(3000))
      assert(PlanWalk.collect(p) { case b: BroadcastExchangeExec => b }.isEmpty, p.toString.take(3000))
      // one sorted walk per conversation: one sort, no window, and the
      // grouping key is the conv_id column, not a key appended to each row
      assert(PlanWalk.collect(p) { case s: SortExec => s }.size === 1, p.toString.take(3000))
      assert(PlanWalk.collect(p) { case w: WindowExec => w }.isEmpty, p.toString.take(3000))
      assert(PlanWalk.collect(p) {
        case a: AppendColumnsExec => a
        case a: AppendColumnsWithObjectExec => a
      }.isEmpty, p.toString.take(3000))
    }
  }

  test("nodes: the entity vocabulary reads mentions with one FileScan") {
    withStageRoot {
      val p = graft.triples.Triples.entityNames(graft.graph.Pipeline.mentions(spark, sfDir))
        .queryExecution.executedPlan
      val scans = PlanWalk.collect(p) { case s: FileSourceScanExec => s.relation.location.rootPaths }
      assert(scans.map(_.map(_.getName)) === Seq(Seq("mentions")), p.toString.take(2000))
    }
  }

  test("minted_nodes: no aggregate over nodes and no nested-loop join in its commit") {
    withStageRoot {
      graft.graph.Pipeline.resolved(spark, sfDir)
      graft.graph.Pipeline.nodes(spark, sfDir)
      val nodesDir = new File(graft.graph.StageStore.baseFor(sfDir), "nodes").toURI.toString
      val ran = plansOf(graft.graph.Pipeline.mintedNodes(spark, sfDir))
      assert(ran.nonEmpty)
      for (p <- ran) {
        assert(PlanWalk.collect(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
          p.toString.take(3000))
        val aggOverNodes = PlanWalk.collect(p) { case a: BaseAggregateExec => a }.exists(a =>
          PlanWalk.collect(a) { case s: FileSourceScanExec => s }
            .exists(_.relation.location.rootPaths.exists(_.toUri.toString.stripSuffix("/") ==
              nodesDir.stripSuffix("/"))))
        assert(!aggOverNodes, p.toString.take(3000))
      }
    }
  }

  test("transcript derivation broadcasts all dimension tables") {
    val p = plan(graft.sources.Transcripts.fromTpch(spark, sfDir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 3, s"part/supplier/customer should broadcast, found $broadcasts")
  }

  test("column pruning reaches the parquet scan") {
    val df = TextOps.tokenCounts(spark.read.parquet(s"$sfDir/documents.parquet"))
    val p = plan(df)
    assert(p.contains("ReadSchema"))
    // lang/source/n_chars must NOT be read (only doc_id + text)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"scan reads more columns than the projection needs: $readSchema")
  }

  test("predicate pushdown reaches the parquet scan") {
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") === 42L)
      .select("o_orderkey", "o_totalprice")
    val p = plan(df)
    assert(p.contains("PushedFilters") &&
      (p.contains("EqualTo(o_orderkey,42)") || p.contains("EqualTo(o_orderkey, 42)")),
      s"filter not pushed:\n${p.take(1500)}")
  }

  test("whole-stage codegen covers the extraction frontend") {
    val m = graft.extract.Extract.mentions(
      graft.sources.Transcripts.fromTpch(spark, sfDir))
    // must execute THIS frame's QueryExecution: AQE only finalizes (and
    // collapses codegen stages) on the executed plan; count() would build
    // a different QueryExecution and leave this one at the initial plan
    m.collect()
    val p = plan(m)
    assert(p.contains("isFinalPlan=true"))
    assert(p.contains("*("),
      s"extraction should stay inside whole-stage codegen:\n${p.take(1200)}")
  }

  test("stage builds keep every generated method under the 8,000-byte JIT limit") {
    // HotSpot does not JIT-compile a method above 8,000 bytes of bytecode
    // (DontCompileHugeMethods is on by default): such a generated method
    // runs in the bytecode interpreter for every row of its stage
    withStageRoot {
      val sizes = Pipeline.stages.flatMap { s =>
        plansOf(Pipeline.stage(spark, sfDir, s.name)).flatMap(p =>
          PlanWalk.collect(p) { case w: WholeStageCodegenExec => w }).map { w =>
          val (_, stats) = CodeGenerator.compile(w.doCodeGen()._2)
          (s.name, w.codegenStageId, stats.maxMethodCodeSize)
        }
      }
      assert(sizes.map(_._1).contains("mentions"), sizes.toString)
      val huge = sizes.filter(_._3 > 8000)
      assert(huge.isEmpty, s"generated methods over 8,000 bytes (stage, codegen id, bytes): " +
        huge.mkString(", "))
    }
  }

  test("broadcast choice: Spark's threshold alone decides; a shuffle join at -1 equals it") {
    import spark.implicits._
    // hot-key fixture: one key carries 90% of the stream
    val stream = (0 until 2000).map { i =>
      (if (i % 10 == 0) s"k$i" else "hot", s"c${i % 7}", i % 13, i)
    }.toDF("obj", "conv_id", "turn_idx", "mention_idx")
    val dict = (Seq("hot") ++ (0 until 2000 by 20).map(i => s"k$i")).toDF("canonical_name")
    val nodes = graft.canonical.Canonical.nodes(
      Seq("t:a", "t:b", "t:c").toDF("canonical_name"))
    val triples = Seq(("t:a", "uses", "t:b", "c1", 1, 0), ("t:c", "uses", "t:a", "c1", 2, 0))
      .toDF("subj", "pred", "obj", "conv_id", "turn_idx", "mention_idx")
    def joins = Seq(graft.triples.Triples.knownOnly(stream, dict),
      graft.canonical.Canonical.edges(triples, nodes))
    // a broadcast hash join keyed on subj or obj
    def keyedBroadcasts(df: DataFrame) = PlanWalk.collect(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec
          if j.leftKeys.flatMap(_.references.map(_.name)).exists(Set("subj", "obj")) => j
    }
    // Spark's default threshold broadcasts the small sides
    val below = joins
    below.foreach(df => assert(keyedBroadcasts(df).nonEmpty,
      s"a small side must broadcast:\n${plan(df).take(1500)}"))
    // Spark's own broadcast off: no graft hint broadcasts either
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val above = joins
      for (df <- above) {
        val p = plan(df)
        assert(keyedBroadcasts(df).isEmpty, s"no broadcast at threshold -1:\n${p.take(1500)}")
        // no replicated key side: each shuffle join keys on its one
        // column, with no salt column beside it
        val shuffled = PlanWalk.collect(df.queryExecution.executedPlan) {
          case j: SortMergeJoinExec => j.leftKeys.size
        }
        assert(shuffled.nonEmpty && shuffled.forall(_ == 1),
          s"plain one-key shuffle joins at threshold -1:\n${p.take(1500)}")
      }
      below.zip(above).foreach { case (b, a) => assertSameRows(b, a) }
      assert(above(1).count() === 2L)
    }
  }

  test("corpus-scaling joins carry no broadcast hint: none at threshold -1") {
    import spark.implicits._
    val docs = ParquetTableIO.read(spark, s"$sfDir/documents.parquet")
    val plans = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Seq(
        "Transcripts.fromTpch" -> graft.sources.Transcripts.fromTpch(spark, sfDir),
        "FuzzyLink.link" -> graft.link.FuzzyLink.link(
          Seq("svc_1_name", "svc_2_nam").toDF("surface"),
          Seq("svc_1_name", "svc_2_name").toDF("name")),
        "Dedup.decontaminate" -> graft.ops.Dedup.decontaminate(docs,
          docs.filter(col("doc_id") % 100 === 0))
      ).map { case (n, df) => n -> plan(df) }
    }
    val hinted = plans.filter(_._2.contains("BroadcastExchange"))
    assert(hinted.isEmpty, s"broadcast at threshold -1 in: ${hinted.map(_._1).mkString(", ")}\n" +
      hinted.map(_._2.take(1500)).mkString("\n"))
  }

  test("a join against a localCheckpointed side returns the same rows at the default threshold and at -1") {
    import spark.implicits._
    // a checkpointed side's pre-AQE estimate is no file size: whichever
    // way Spark and AQE plan the join from it, the rows must not change
    val facts = (0 until 500).map(i => (s"k${i % 40}", i.toLong)).toDF("k", "v")
    def join = facts.join(
      (0 until 40 by 3).map(i => (s"k$i", i.toLong)).toDF("k", "w").localCheckpoint(), Seq("k"))
    val atDefault = join
    val rows = rowSet(atDefault)
    val off = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = join
      val r = rowSet(df)
      assert(!plan(df).contains("BroadcastExchange"), plan(df).take(1500))
      r
    }
    assert(rows === off)
    assert(rows.size === (0 until 500).count(i => i % 40 % 3 == 0))
  }

  test("kg_entity_convs: one exchange, partial collect_set below it") {
    val df = SparkEntry.queries("kg_entity_convs")(spark, sfDir)
    val exchanges = PlanWalk.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.size === 1, plan(df).take(2000))
    assert(exchanges.head.child.toString.contains("partial_collect_set"),
      s"collect_set must combine map-side:\n${plan(df).take(2000)}")
  }

  test("hierarchy turn-0 is a pushed parquet filter on the committed transcripts table") {
    // r02 scale-killer regression gate: the month-folder listing must read
    // a filtered 3-column scan, never a full corpus derivation
    // the projection below is what Hierarchy materializes (its checkpoint
    // hides the scan from the downstream dense-ID plan, so assert on the
    // projection's own plan)
    val tmp = java.nio.file.Files.createTempDirectory("graft_hier_push").toString
    graft.sources.Transcripts.fromTpch(spark, sfDir)
      .write.mode("overwrite").parquet(tmp)
    val p = plan(graft.graph.Hierarchy.turn0(spark.read.parquet(tmp)))
    assert(p.contains("PushedFilters") &&
      (p.contains("EqualTo(turn_idx,0)") || p.contains("EqualTo(turn_idx, 0)")),
      s"turn_idx=0 not pushed to the scan:\n${p.take(1500)}")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"),
      s"hierarchy must not read the text column: $readSchema")
  }

  test("LSH projections are shuffle-free (literal plane arrays, no explode)") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = plan(graft.ops.Similarity.lshBuckets(e))
    assert(!p.contains("Exchange"),
      s"sign projections must not shuffle (the old posexplode shape inflated 64x):\n${p.take(1500)}")
    assert(!p.contains("Generate"), "no explode in the projection path")
  }

  test("langId evaluates split exactly once (words array projected as an attribute)") {
    // each of the 5 language ratios uses the words array twice; without
    // the projected attribute the plan re-splits the text ~11x per row
    // (the HOF/no-cheap-alias trap) — CollapseProject must keep the alias
    val p = plan(TextOps.langId(
      spark.read.parquet(s"$sfDir/documents.parquet")))
    val splits = "split\\(".r.findAllIn(p).size
    assert(splits === 1, s"expected exactly one split in the plan, got $splits:\n${p.take(1500)}")
  }

  test("stratified sampling is a pure per-row filter: no shuffle in the plan") {
    val lang = TextOps.langId(spark.read.parquet(s"$sfDir/documents.parquet"))
      .select(col("doc_id"), col("pred_lang"))
    val p = plan(graft.ops.Curation.stratifiedSample(lang, "pred_lang",
      Seq("en" -> "40"), "zz"))
    assert(!p.contains("Exchange"),
      s"hash-threshold sampling must not shuffle:\n${p.take(1200)}")
  }

  test("mix stats: the grand total joins as a broadcast single row") {
    val rows = spark.range(100).select(col("id").as("doc_id"),
      (col("id") % 3).cast("string").as("pred_lang"), lit(5L).as("ws_tokens"))
    val p = plan(graft.ops.Curation.mixStats(rows, "pred_lang", "ws_tokens"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row grand total must broadcast, never shuffle the strata:\n${p.take(1200)}")
  }

  test("brute-force ANN broadcasts the query side") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = plan(graft.ops.Similarity.bruteForceTopK(e, 5, 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side must broadcast:\n${p.take(1500)}")
  }

  test("auto-plane cosine dedup: bucket blocking is an equi-join, never a cross product") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = plan(graft.ops.Similarity.cosineDupPairsAuto(e))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay a bucket equi-join:\n${p.take(1500)}")
  }

  test("PR comments: ONE lineitem scan feeds the sliced collect_list (no self-union)") {
    val p = plan(SparkEntry.queries("kg_pr_nodes_rich")(spark, sfDir))
    // count SCAN NODES, not substring mentions (paths repeat in headers):
    // a regression to a self-union would add a second FileScan node
    val scanNodes = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem"))
    assert(scanNodes === 1,
      s"expected exactly one lineitem FileScan node, got $scanNodes:\n${p.take(1500)}")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"collect_list aggregate missing:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"), "no cross product in the PR dim build")
  }

  test("clean-corpus gate: no cross product, doc-keyed joins only") {
    val p = plan(SparkEntry.queries("doc_clean_corpus")(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"every gate family must join on doc_id:\n${p.take(1500)}")
  }

  test("exact-dup pre-collapse keeps the digest groupBy map-side combinable") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.ops.Dedup.exact(docs))
    assert(p.contains("HashAggregate"), s"digest dedup must hash-aggregate:\n${p.take(800)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "partial + final aggregate expected (map-side combine)")
  }

  /** Hash exchanges below `df`'s top rank window, and whether a partial
    * WindowGroupLimit sits below them; runs `df`. */
  private def rankWindowShape(df: DataFrame): (Int, Boolean) = {
    df.collect()
    val window = PlanWalk.collect(df.queryExecution.executedPlan) { case w: WindowExec => w }.head
    val exchanges = PlanWalk.collect(window) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    val partial = exchanges.exists(e => PlanWalk.collect(e.child) {
      case l: WindowGroupLimitExec if l.mode == Partial => l
    }.nonEmpty)
    (exchanges.size, partial)
  }

  test("top-k: one hash exchange under the rank window, partial group limit below it") {
    // brute-force ANN at sf0.001: its 500 x 20 cross join estimates ~31 GB
    val ann = graft.ops.Similarity.bruteForceTopK(
      ParquetTableIO.read(spark, s"$sfDir/embeddings.parquet"))
    // 3,000 rows whose equi-join estimate (product of sides) tops 256 MB
    val ids = spark.range(0, 3000)
    val rows = ids.join(ids.select(col("id").as("j")), col("id") === col("j"))
      .select((col("id") % 3).cast("string").as("grp"),
        concat(lit("w"), col("id")).as("word"), (col("id") * 37 % 101).as("n"))
    assert(rows.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(256L << 20))
    val top = graft.canonical.TopK.perGroup(rows, Seq("grp"),
      Seq(col("n").desc, col("word")), 5, "rk")
    for ((name, df) <- Seq("bruteForceTopK" -> ann, "perGroup" -> top)) {
      assert("\\b_pp\\b".r.findFirstIn(plan(df)).isEmpty, s"$name: hand-built partition rank")
      assert(rankWindowShape(df) === ((1, true)),
        s"$name: (hash exchanges under the rank window, partial limit below):\n${plan(df).take(2000)}")
    }
    val want = (0L until 3000L).map(i => ((i % 3).toString, s"w$i", i * 37 % 101))
      .groupBy(_._1).values.flatMap(_.sortBy(r => (-r._3, r._2)).take(5)
        .zipWithIndex.map { case ((g, w, n), i) => Seq(g, w, n, i + 1L) }).toSet
    assert(top.collect().map(_.toSeq).toSet === want)
  }

  test("Probe plans: the ANN top-k dump has Spark's group limit, no hand-built phase") {
    val out = Files.createTempDirectory("graft_probe_plans").toString
    val Seq(f) = graft.tools.Probe.plans(spark, sfDir, out, "smoke", Seq("emb_ann_topk"))
    assert(f === new File(out, "emb_ann_topk_smoke.txt") && f.isFile)
    val dump = new String(Files.readAllBytes(f.toPath), "UTF-8")
    // `_pp` as a whole word: the hand-built partition-rank column (cos_ppm is not one)
    assert(dump.contains("WindowGroupLimit") && "\\b_pp\\b".r.findFirstIn(dump).isEmpty,
      dump.take(1500))
  }

  test("Probe plans: two dumps of one query in one session are byte-identical") {
    val dumps = Seq("a", "b").map { suffix =>
      val out = Files.createTempDirectory("graft_probe_plans").toString
      val Seq(f) = graft.tools.Probe.plans(spark, sfDir, out, suffix, Seq("kg_entity_convs"))
      new String(Files.readAllBytes(f.toPath), "UTF-8")
    }
    assert(dumps.head.contains("Exchange") && !dumps.head.startsWith("ERROR"), dumps.head)
    assert(dumps.head === dumps(1))
  }

  test("incremental probe: corpus docs are candidate-filtered BEFORE shingling (batch)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "unrelated text entirely different here okay then")).toDF("doc_id", "text")
    val index = graft.ops.Dedup.minhashBuckets(corpus)
    val incoming = Seq((100L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("doc_id", "text")
    // a corpus under Spark's broadcast threshold keeps the
    // wholesale-shingle plan (cheaper than the extra semi-join shuffle)
    val small = graft.ops.Dedup.checkAgainstIndex(incoming, index, corpus)
    assert(!small.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    val want = small.collect().map(_.toSeq).toSet
    // VERDICT r05 #1 regression gate: with Spark's broadcast off the
    // verify side must semi-join the corpus on the candidate ids BEFORE
    // any shingle projection (the previous plan shingled EVERY corpus doc
    // per batch)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val probe = graft.ops.Dedup.checkAgainstIndex(incoming, index, corpus)
      val p = probe.queryExecution.optimizedPlan.toString
      assert(p.contains("LeftSemi"),
        s"corpus must be candidate-semi-joined before shingling:\n${p.take(1500)}")
      assert(probe.collect().map(_.toSeq).toSet === want,
        "probe result unchanged by the pre-filter")
      assert(probe.collect().map(_.getLong(1)).toSet === Set(1L))
    }
  }

  /** Interpreted higher-order functions in the executed (AQE-final) plan
    * of `df`, subqueries and query stages included; runs `df`. */
  private def hofsIn(df: DataFrame): Seq[String] = {
    df.collect()
    PlanWalk.collectWithSubqueries(df.queryExecution.executedPlan) {
      case p => p.expressions.flatMap(_.collect {
        case e if PlanWalk.banned(e.getClass.getSimpleName) => e.getClass.getSimpleName
      })
    }.flatten.distinct
  }

  test("compiled kernels: no per-element lambda in the vector and MinHash plans") {
    // Spark 4.1 runs every higher-order function as CodegenFallback: its
    // lambda is interpreted once per array element. These operators keep
    // their array math in graft.ops.Kernels; a kernel written back as a
    // lambda fails here instead of silently returning to the interpreter.
    // parquet inputs, not local rows: Spark folds a projection over a
    // local relation at planning time, which would hide its expressions
    val q = SparkEntry.queries
    val emb = ParquetTableIO.read(spark, s"$sfDir/embeddings.parquet")
    val docs = ParquetTableIO.read(spark, s"$sfDir/documents.parquet")
    val plans = Seq("emb_lsh_buckets", "doc_minhash_lsh", "doc_fingerprint",
      "emb_cosine_dups", "emb_ann_topk").map(n => n -> q(n)(spark, sfDir)) ++ Seq(
      "Clustering.lloyd" -> graft.ops.Clustering.lloyd(emb, k = 4, iters = 1),
      "Dedup.rowBuckets" -> graft.ops.Dedup.rowBuckets(docs),
      "FuzzyLink.nameBuckets" -> graft.link.FuzzyLink.nameBuckets(
        docs.select(substring(col("text"), 1, 12).as("name")), "name"))
    val found = plans.map { case (n, df) => n -> hofsIn(df) }.filter(_._2.nonEmpty)
    assert(found.isEmpty, s"interpreted higher-order functions in: ${found.mkString(", ")}")
  }
}

private object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  val banned = Set("ArrayAggregate", "ZipWith", "ArrayTransform")
}
