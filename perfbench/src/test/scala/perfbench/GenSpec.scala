package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def withDir[T](name: String)(body: Path => T): T = {
    val d = Paths.get("target", "gen-spec", name).toAbsolutePath
    Workload.deleteTree(d)
    try body(d) finally Workload.deleteTree(d)
  }

  private def contents(d: Path): Map[String, Seq[Byte]] = {
    val s = Files.list(d)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def casts(d: Path, seed: Long) =
    Gen.writeCasts(d, seed, n = 3, scans = 600)

  private def docs(d: Path, seed: Long) =
    Gen.writeDocs(d, seed, corpusDocs = 200, batches = 2, batchDocs = 64)

  test("the same seed writes byte-identical inputs, another seed different ones") {
    withDir("a") { a =>
      withDir("b") { b =>
        withDir("c") { c =>
          casts(a, 7); casts(b, 7); casts(c, 8)
          docs(a.resolve("docs"), 7); docs(b.resolve("docs"), 7); docs(c.resolve("docs"), 8)
          for (sub <- Seq(Paths.get("."), Paths.get("docs"))) {
            val (ca, cb, cc) = (contents(a.resolve(sub)), contents(b.resolve(sub)),
              contents(c.resolve(sub)))
            assert(ca.nonEmpty)
            assert(ca == cb)
            assert(ca.values.toSet.intersect(cc.values.toSet).isEmpty)
          }
        }
      }
    }
  }

  test("generated CNV parses through Parsers.cnv with the expected scans and channels") {
    withDir("parse") { d =>
      for (f <- casts(d, 3)) {
        val path = d.resolve(f.castId + ".cnv")
        val parsed = graft.io.Parsers.cnv(path.toString, new String(Files.readAllBytes(path), "US-ASCII"))
        assert(parsed.castId == f.castId)
        assert(parsed.rows.length == f.scans)
        assert(parsed.schema.fields.head.name == "pressure")
        assert(parsed.schema.fields.tail.count(_.dataType == DoubleType) == 26)
        val p = parsed.rows.map(_(0).asInstanceOf[java.lang.Double].doubleValue())
        assert(p.head == f.firstPressure)
        assert(p.max == math.round(f.maxPressure * 1000) / 1000.0)
        assert(f.downBins > 0)
      }
    }
  }

  test("planted batch facts are disjoint and every id is unique") {
    withDir("docs") { d =>
      val (_, facts) = docs(d, 5)
      val ids = facts.flatMap { f =>
        Files.readAllLines(f.file).asScala.map(l => l.drop(10).takeWhile(_ != ',').toLong)
      }
      assert(ids.distinct.length == ids.length)
      facts.foreach { f =>
        assert(f.unrelated.intersect(f.corpusCopies).isEmpty)
        assert(f.inBatchPairs.forall { case (x, y) => !f.unrelated(x) && !f.unrelated(y) })
      }
    }
  }

  test("the tail percentile keeps at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred) == Stats.Tail(90.0, 90.0, 10, 100))
    val eleven = (1 to 11).map(_.toDouble)
    assert(Stats.tail(eleven) == Stats.Tail(1.0, 100.0 / 11, 10, 11))
    for (n <- 11 to 300) {
      val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
      val t = Stats.tail(xs)
      assert(xs.count(_ > t.value) >= 10)
      assert(xs.count(_ > t.value) == t.beyond)
    }
    // too few samples for ten beyond: the maximum, nothing beyond it
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(3.0, 100.0, 0, 3))
  }
}
