package perfbench

import java.nio.file.{Files => JFiles}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private def withRoot[T](f: String => T): T = {
    val base = JFiles.createDirectories(java.nio.file.Paths.get("target", "test-runs"))
    val root = JFiles.createTempDirectory(base, "run").toAbsolutePath.toString
    try f(root)
    finally {
      SparkSession.getActiveSession.foreach(_.stop())
      Files.deleteTree(new java.io.File(root))
    }
  }

  /** The first `n` op labels (SQL text or inventory key) of a workload
    * set up from nothing with `seed`. */
  private def opLabels(name: String, seed: Long, n: Int): Seq[String] = withRoot { root =>
    val w = Main.workload(name, seed)
    val spark = Session.start(root, s"$root/rep1", w.usesCatalog)
    w.setup(spark, s"$root/rep1")
    Seq.fill(n)(w.next().label)
  }

  test("one seed generates byte-identical inputs, another seed different ones") {
    assert(Gen.fixtureDigest(0.001, 7) == Gen.fixtureDigest(0.001, 7))
    assert(Gen.fixtureDigest(0.001, 7) != Gen.fixtureDigest(0.001, 8))
    assert(Corpus.generate(7).sameElements(Corpus.generate(7)))
    assert(!Corpus.generate(7).sameElements(Corpus.generate(8)))
    assert(LakeModel.load(4000, 7).checksum == LakeModel.load(4000, 7).checksum)
    assert(LakeModel.load(4000, 7).checksum != LakeModel.load(4000, 8).checksum)
  }

  test("one seed yields the same op sequence on every workload, another seed a different one") {
    Seq("lakehouse", "operator_inventory").foreach { name =>
      val a = opLabels(name, 11, 40)
      assert(a == opLabels(name, 11, 40), name)
      assert(a != opLabels(name, 12, 40), name)
    }
  }

  test("every cycle of a schedule holds the same mix") {
    val s = new Schedule(new Rng(3), Seq("a" -> 3, "b" -> 1))
    val ops = Seq.fill(40)(s.next())
    ops.grouped(4).foreach(c => assert(c.sorted == Seq("a", "a", "a", "b")))
    val closed = new Schedule(new Rng(3), Seq("a" -> 3, "b" -> 1), last = Seq("z"))
    Seq.fill(50)(closed.next()).grouped(5).foreach { c =>
      assert(c.init.sorted == Seq("a", "a", "a", "b") && c.last == "z")
    }
  }

  test("layer painting: the innermost span owns each millisecond, the rest is driver time") {
    // op 0..100 ms; analysis 0..40 contains optimization 10..20; a job 30..60
    val owned = Tracer.paint(0, 100, Seq((1, 0, 40), (2, 10, 20), (4, 30, 60)))
    assert(owned.toSeq == Seq(0.0, 20.0, 10.0, 0.0, 30.0))
    assert(100 - owned.sum == 40.0)
  }

  test("a corrupted expected value makes the run fail its output check") {
    withRoot { root =>
      val args = Main.Args("lakehouse", 5, 1, trace = false, root, s"$root/spans.jsonl")
      val out = Main.run(args, new Lakehouse(5), w => w.asInstanceOf[Lakehouse].model("lake.li_cow").set(0, 999))
      assert(out.contains("\"correct\":false"), out)
      assert(!out.contains("\"failed\":0,"), out)
    }
  }
}
