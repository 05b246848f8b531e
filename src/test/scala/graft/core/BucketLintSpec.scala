package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The key→bucket decision lives in ONE module: only `Buckets.scala`
  * under `src/main` may spell the hash it is made of. A second copy is
  * how the writer, the lookups and pruning drift apart.
  */
class BucketLintSpec extends AnyFunSuite {

  test("only Buckets.scala spells the bucket hash") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the project root: $main")
    val spellings = Seq("pmod(hash(", "Murmur3Hash")
    val hits = Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "Buckets.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if spellings.exists(line.contains) => s"$p:${i + 1}: $line"
        }
      }.toSeq
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
