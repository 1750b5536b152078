package graft

import java.io.File
import java.nio.file.Files

import graft.graph.{Pipeline, StageStore}
import graft.tools.Probe

/** One session factory, one probe CLI, one declaration per stage name and
  * a declared set of options: a source scan keeps it so. */
class ProbeSpec extends SparkSpec {

  private def sources(dir: File): Seq[File] =
    if (dir.isDirectory) dir.listFiles.toSeq.flatMap(sources)
    else Seq(dir).filter(_.getName.endsWith(".scala"))

  private def text(f: File) = new String(Files.readAllBytes(f.toPath), "UTF-8")

  private val root = new File("src/main/scala")

  test("sessions come from Pipeline.session and the tools have one main") {
    assert(root.isDirectory, root.getAbsolutePath)
    val builders = sources(root)
      .filterNot(f => Seq("graph/Pipeline.scala", "graft/Bench.scala", "graft/Verify.scala")
        .exists(f.getPath.endsWith))
      .filter(text(_).contains("SparkSession.builder("))
    assert(builders.isEmpty,
      s"build sessions with graft.graph.Pipeline.session, not SparkSession.builder: $builders")
    val mains = sources(new File(root, "graft/tools"))
      .map(f => f -> "def main\\(".r.findAllIn(text(f)).size).filter(_._2 > 0)
    assert(mains.map(_._2).sum === 1,
      s"graft.tools holds one CLI, graft.tools.Probe; add a subcommand there: $mains")
  }

  test("every committed table is declared once, in the Pipeline registry") {
    // a stage committed from two call sites is built by whichever runs
    // first, so the two builds would have to be kept identical by hand (a
    // stage commit passes arguments; a session's `getOrCreate()` none)
    val call = """getOrCreate\((?!\))""".r
    val sites = sources(root).filterNot(_.getPath.endsWith("graph/StageStore.scala"))
      .flatMap(f => call.findAllIn(text(f)).map(_ => f.getPath.split("/graft/").last))
    assert(sites === Seq("graph/Pipeline.scala"), "only the stage registry commits a stage")
    val ops = sources(new File(root, "graft/ops")).filter(text(_).contains("StageStore"))
    assert(ops.isEmpty, s"the ops modules must not name the stage store: $ops")
    val names = Pipeline.registered.map(_.name)
    assert(names.size === 15 && names.distinct === names, names)
  }

  test("src/main reads exactly the declared environment variables and system properties") {
    // every option is a knob an operator must know about: a new one is
    // added here on purpose, and a deleted one leaves this list
    val options = Set("SPARK_GRAFT_CPUS", "SPARK_MASTER", "graft.stage.dir",
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_LOAD_GATE", "SPARK_GRAFT_LOAD_WAIT")
    val jvmOwn = Set("java.io.tmpdir") // the JVM's property, not one of ours
    val read = """(sys\.(props|env)|System\.(getenv|getProperty))\b""".r
    val keyed = """(?:sys\.(?:props|env)(?:\.(?:get|getOrElse|contains|apply))?|System\.(?:getenv|getProperty))\(\s*"([^"]+)"""".r
    val texts = sources(root).map(text)
    val keys = texts.flatMap(keyed.findAllMatchIn(_).map(_.group(1))).toSet
    // a read through a computed key would hide an option from the scan
    assert(texts.map(read.findAllIn(_).size).sum === texts.map(keyed.findAllIn(_).size).sum,
      "read options through literal keys")
    assert(keys === options ++ jvmOwn,
      s"undeclared: ${keys -- options -- jvmOwn}; declared but not read: ${options ++ jvmOwn -- keys}")
  }

  test("Probe columns reads the committed stages' footers and runs no job") {
    withStageRoot {
      val sfDir = "/root/testdata/sf0.001"
      Pipeline.runAll(spark, sfDir)
      var tables: Seq[Probe.TableColumns] = Nil
      assert(jobsOf { tables = Probe.columns(spark, sfDir) } === 0)
      assert(tables.map(_.stage) === Pipeline.stages.map(_.name).sorted)
      for (t <- tables) {
        assert(t.rows === StageStore.committedRows(spark, sfDir, t.stage), t)
        assert(t.files > 0 && t.columns.nonEmpty, t)
        assert(t.columns.map(_._2).sum <= t.bytes, t)
      }
      assert(tables.find(_.stage == "resolved").get.columns.map(_._1) ===
        Seq("conv_id", "turn_idx", "mention_idx", "hop", "subj", "pred", "obj"))
    }
  }
}
