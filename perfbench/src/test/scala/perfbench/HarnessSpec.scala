package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The harness's own arithmetic: percentile rule, span self time,
  * fingerprint invariance, seeded inputs and best-effort cleanup.
  */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("tail percentile is the highest with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(100) == Some(90))
    assert(Stats.tailPercentile(1000) == Some(90))
    assert(Stats.tailPercentile(50) == Some(80))
    assert(Stats.tailPercentile(20) == Some(50))
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(5).isEmpty)
    for (n <- 11 to 300; p <- Stats.tailPercentile(n)) {
      assert(Stats.beyond(n, p) >= 10)
      assert(p == 90 || Stats.beyond(n, p + 1) < 10)
    }
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(xs.count(_ > Stats.percentile(xs, 90)) == Stats.beyond(100, 90))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time subtracts the union of children, clipped to the parent") {
    val parent = Span(1, 0, 2, "query", "q", 0, 100)
    def kid(a: Long, b: Long) = Span(2, 1, 3, "job", "j", a, b)
    // [10,50] from two overlapping kids, [60,70], and [90,100] of [90,120].
    val kids = Seq(kid(10, 30), kid(20, 50), kid(60, 70), kid(90, 120))
    assert(Spans.covered(0, 100, kids.map(k => (k.start, k.end))) == 60)
    assert(Spans.selfTime(parent, kids) == 40)
    assert(Spans.selfTime(parent, Nil) == 100)
    assert(Spans.selfTime(parent, Seq(kid(-5, 200))) == 0)
  }

  test("fingerprint ignores row order and partitioning") {
    import spark.implicits._
    val df = (0 until 500).map(i => (i.toLong, i * 0.1, s"s${i % 7}", Seq(i * 1.5, -0.0), Map(i -> s"v$i")))
      .toDF("id", "x", "s", "arr", "m")
      .withColumn("maybe", when(col("id") % 5 === 0, lit(null)).otherwise(col("x")))
    val base = Fingerprint.of(df)
    assert(base.rows == 500)
    assert(Fingerprint.of(df.orderBy(rand(7))) == base)
    assert(Fingerprint.of(df.repartition(7)) == base)
    assert(Fingerprint.of(df.coalesce(1).orderBy(col("id").desc)) == base)
    // Columns are compared by name, as the oracle check does.
    assert(Fingerprint.of(df.select(df.columns.reverse.map(col).toIndexedSeq: _*)) == base)
    assert(Fingerprint.of(df.filter(col("id") =!= 3)) != base)
    assert(Fingerprint.of(df.withColumn("x", when(col("id") === 3, 99.0).otherwise(col("x")))) != base)
  }

  test("fingerprint treats -0.0 as 0.0 and absorbs last-digit noise") {
    import spark.implicits._
    val a = Seq(0.0, 1.0 / 3).toDF("v")
    val b = Seq(-0.0, 1.0 / 3 + 1e-15).toDF("v")
    assert(Fingerprint.of(a) == Fingerprint.of(b))
  }

  test("the same seed gives the same inputs") {
    val names = Seq("a", "b", "c", "d", "e", "f")
    assert(Seeds.passOrder(5, 0, names) == Seeds.passOrder(5, 0, names))
    assert(Seeds.passOrder(5, 1, names) == Seeds.passOrder(5, 1, names))
    assert((1L to 20L).map(s => Seeds.passOrder(s, 0, names)).distinct.size > 1)
    assert(Seeds.rng(9, 3).nextLong() == Seeds.rng(9, 3).nextLong())
    assert(Seeds.rng(9, 3).nextLong() != Seeds.rng(10, 3).nextLong())
    val fs = new FlowStream
    for (p <- fs.pipelines) assert(fs.analytic(42, p) == fs.analytic(42, p))
    assert(fs.analytic(42, "parse_project") == fs.rows.toLong)
    assert(fs.analytic(42, "session_window") != fs.analytic(43, "session_window"))
  }

  test("closed sessions follow the gap and the final watermark") {
    val s = 1000000L
    // Watermark: latest event 200 s, less a 30 s delay = 170 s.
    val events = Seq(
      "a" -> 0L, "a" -> 10 * s, "a" -> 50 * s, // sessions ending 40 s and 80 s
      "b" -> 100 * s, "b" -> 125 * s, // one session ending 155 s: closed
      "c" -> 141 * s, // ends 171 s: still open
      "d" -> 200 * s,
    )
    assert(FlowStream.closedSessions(events, gapUs = 30 * s, delayMs = 30000) == 3)
    assert(FlowStream.closedSessions(events.reverse, gapUs = 30 * s, delayMs = 30000) == 3)
    // The watermark is taken in whole milliseconds.
    assert(FlowStream.closedSessions(Seq("a" -> 0L, "b" -> (60 * s + 999)), 30 * s, 30000) == 1)
    assert(FlowStream.closedSessions(Seq("a" -> 1L, "b" -> (60 * s + 999)), 30 * s, 30000) == 0)
    assert(FlowStream.micros("1970-01-01 00:00:01.000002") == s + 2)
  }

  test("cleanup is best effort and always clears its pending list") {
    val logged = scala.collection.mutable.Buffer[String]()
    val c = new Cleanup(logged += _)
    var ran = 0
    c.later("bad")(throw new java.io.IOException("boom"))
    c.later("good")(ran += 1)
    c.flush()
    assert(ran == 1)
    assert(c.failures == 1)
    assert(logged.exists(_.contains("bad")))
    c.flush()
    assert(ran == 1 && c.failures == 1)
    val dir = java.nio.file.Files.createTempDirectory("perfbench-spec")
    java.nio.file.Files.createDirectories(dir.resolve("a/b"))
    java.nio.file.Files.write(dir.resolve("a/b/f"), Array[Byte](1))
    c.path(dir.toString)
    c.path(dir.resolve("missing").toString)
    c.flush()
    assert(!java.nio.file.Files.exists(dir))
    assert(c.failures == 1)
  }
}
