package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

class BenchSelfSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("collector: a known job gives exact job, task and row counts per group") {
    val c = new Collector(spark.sparkContext)
    val dir = Files.createTempDirectory("perfbench-spec").resolve("range").toString
    spark.sparkContext.setJobGroup("known", "known")
    spark.range(0, 1000, 1, 7).write.parquet(dir)
    spark.sparkContext.clearJobGroup()
    val t = c.totals("known")
    assert(t.jobs == 1)
    assert(t.tasks == 7)
    assert(t.rowsWritten == 1000)
    assert(t.cpuS > 0)
    assert(c.totals("never-ran") == GroupTotals(0, 0, 0, 0, 0, 0, 0, 1.0))
  }

  test("collector: block-store bytes rise with a cached block and fall when it is freed") {
    val c = new Collector(spark.sparkContext)
    val before = c.store()._1
    val df = spark.range(0, 200000, 1, 2).toDF("id").persist(StorageLevel.MEMORY_ONLY)
    df.count()
    val (held, peak) = c.store()
    assert(held > before)
    assert(peak >= held)
    df.unpersist(blocking = true)
    val (after, peakAfter) = c.store()
    assert(after == before)
    assert(peakAfter == peak)
  }

  test("spans: nesting, job groups and self time") {
    val c = new Collector(spark.sparkContext)
    val spans = new Spans(spark.sparkContext, "spec")
    spans("outer") {
      Thread.sleep(50)
      spans("inner") { spark.sparkContext.parallelize(1 to 10, 3).count() }
      spark.sparkContext.parallelize(1 to 10, 2).count()
    }
    val Seq(outer) = spans.named("outer")
    val Seq(inner) = spans.named("inner")
    assert(inner.parent == outer.id && outer.parent == -1)
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    assert(math.abs(spans.self("outer") - (outer.seconds - inner.seconds)) < 1e-9)
    assert(c.totals("inner").jobs == 1 && c.totals("inner").tasks == 3)
    // the outer span's group is restored once the inner span closes
    assert(c.totals("outer").jobs == 1 && c.totals("outer").tasks == 2)
    assert(spans.toJsonLines.split("\n").length == 2)
  }

  private val golden = (1 to 10).map(i => (s"s$i", "works_at", s"o$i")).toSet

  test("P/R check: one dropped triple is a false negative and fails the run") {
    val pr = Checks.triplePR(golden - golden.head, golden)
    assert(pr == Checks.Score(9, 0, 1))
    assert(!pr.passes)
    assert(Checks.triplePR(golden, golden).passes)
  }

  test("P/R check: one wrong canonical form costs precision and recall") {
    val wrong = golden - golden.head + (("s1x", "works_at", "o1"))
    val pr = Checks.triplePR(wrong, golden)
    assert(pr == Checks.Score(9, 1, 1))
    assert(!pr.passes)
  }

  test("cluster check: majority vote, merges cost precision, missing mentions recall") {
    val truth = Map(("person", "a") -> "p:0", ("person", "aa") -> "p:0",
      ("person", "b") -> "p:1", ("person", "c") -> "p:2")
    val perfect = Map(("person", "a") -> 1L, ("person", "aa") -> 1L,
      ("person", "b") -> 2L, ("person", "c") -> 3L)
    assert(Checks.clusterPR(perfect, truth) == Checks.Score(4, 0, 0))
    // b wrongly merged into a's cluster: a minority member there
    val merged = perfect.updated(("person", "b"), 1L)
    assert(Checks.clusterPR(merged, truth) == Checks.Score(3, 1, 1))
    assert(Checks.clusterPR(perfect - (("person", "c")), truth) == Checks.Score(3, 0, 1))
    val found = Seq((("person", "a"), ("person", "aa")), (("person", "a"), ("person", "b")))
    assert(Checks.pairRecall(found, truth, truePairs = 1) == 1.0)
  }
}
