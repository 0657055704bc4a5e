package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: the idempotent micro-batch policy (skip an empty
  * batch, tag its rows with `batch_id`, dynamic-overwrite the
  * `batch_id` partitions) lives in `MartSink.writeBatch`/`batchSink`
  * alone. A sink that tags rows itself restates that policy, so any
  * such line outside `MartSink.scala` fails here by file and line. */
class SinkLintSpec extends AnyFunSuite {

  private val Tagging = Seq("lit(batchId)", """withColumn("batch_id"""")

  /** (file, line fragment) of tags that are not micro-batch ids:
    * `CorpusPipeline.runIncremental` labels a batch-mode corpus run
    * with its caller-given, validated string id under `batch`. */
  private val NotAMicroBatch = Set(
    "CorpusPipeline.scala" -> """withColumn("batch", lit(batchId))""")

  private def violations(name: String, lines: Seq[String]): Seq[(String, Int)] =
    if (name == "MartSink.scala") Nil
    else lines.zipWithIndex.collect {
      case (line, i) if Tagging.exists(line.contains) &&
        !NotAMicroBatch.exists { case (n, frag) => n == name && line.contains(frag) } =>
        (line.trim, i + 1)
    }

  test("batch_id tagging only in MartSink: every micro-batch sink goes through writeBatch") {
    val sources: Seq[Path] = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.getFileName.toString == "MartSink.scala"),
      "the lint must see the library sources (not vacuous)")
    val hits = for {
      f <- sources
      (line, n) <- violations(f.getFileName.toString, Files.readAllLines(f).asScala.toSeq)
    } yield s"$f:$n: $line"
    assert(hits.isEmpty,
      s"hand-tagged micro-batch sink(s); use MartSink.batchSink/writeBatch:\n${hits.mkString("\n")}")
  }

  test("the lint catches a planted hand-written sink") {
    val planted = Seq(
      "      .foreachBatch { (batch: DataFrame, batchId: Long) =>",
      "        val rows = batch.withColumn(\"batch_id\", lit(batchId))",
      "        MartSink.writePartitioned(rows, dir, Seq(\"batch_id\"))")
    assert(violations("PlantedStream.scala", planted).map(_._2) == Seq(2))
    assert(violations("PlantedStream.scala", Seq("  .withColumn(\"batch_id\", lit(7L))"))
      .nonEmpty)
    assert(violations("MartSink.scala", planted).isEmpty)
    assert(violations("CorpusPipeline.scala",
      Seq("""          .withColumn("batch", lit(batchId))""")).isEmpty)
  }
}
