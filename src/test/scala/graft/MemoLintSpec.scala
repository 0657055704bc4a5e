package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: the session memo policy (bound, block-loss heal,
  * eager clear, build count) lives in [[Caches.Memo]] alone. A family
  * that hand-rolls its own `ConcurrentHashMap` memo escapes
  * `Caches.clearAll` and the heal, so any such map outside
  * `Caches.scala` fails here by file and line. */
class MemoLintSpec extends AnyFunSuite {

  /** (file, line fragment) of the maps that are not session memos:
    * HyperplaneBands' per-dimension constant table is keyed by vector
    * dimension, not by corpus, and holds no Spark resource. */
  private val NotAMemo = Set(
    "HashExpressions.scala" -> "ConcurrentHashMap[Int, Array[Array[Double]]]")

  test("no ConcurrentHashMap outside Caches: every session memo is a Caches.Memo") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.getFileName.toString == "Caches.scala"),
      "the lint must see the library sources (not vacuous)")
    val hits = for {
      f <- sources
      name = f.getFileName.toString
      if name != "Caches.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("ConcurrentHashMap")
      if !NotAMemo.exists { case (n, frag) => n == name && line.contains(frag) }
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"hand-rolled memo map(s); use Caches.Memo instead:\n${hits.mkString("\n")}")
  }
}
