package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Handed to an op while it runs: `phase` tags the Spark jobs of a layer
  * call with a job group naming the op and phase, and records a span
  * around it when tracing. */
final class Ctx(val spark: SparkSession, tracer: Option[Tracer], val opId: Int, val opSpan: Int) {
  def phase[T](name: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(Ctx.group(opId, name), name)
    try tracer match {
      case Some(t) => t.span(name, opSpan, opId)(body)
      case None => body
    } finally spark.sparkContext.clearJobGroup()
  }
}

object Ctx {
  def group(opId: Int, phase: String): String = s"op$opId-$phase"
}

/** One unit of timed work. `prepare` runs untimed before it; `run` is
  * timed and returns the op's output check, which runs untimed after it
  * and yields an error message on a wrong result. */
trait Op {
  def name: String
  def prepare(): Unit = ()
  def run(ctx: Ctx): () => Option[String]
}

trait Workload {
  /** The untimed warm pass; registry ops check their outputs here. */
  def warm: Seq[Op]
  /** The ops of timed pass `i`. */
  def pass(i: Int): Seq[Op]
  /** Per-layer metrics measured outside the passes (traced run only). */
  def layerProbes(): Map[String, Double] = Map.empty
  /** Per-layer metrics derived from the op spans of the timed passes. */
  def spanMetrics(spans: Seq[Span], opNames: Map[Int, String], passes: Int): Map[String, Double] = Map.empty
  def info: Map[String, Any] = Map.empty
}

/** Order-insensitive result digest: row count plus the decimal sum of a
  * per-row xxhash64 over the columns in order. Floating-point values are
  * hashed at 10 significant digits, so a last-ulp difference from a
  * different fold order is not a mismatch. */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val r = renamed.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case _: MapType | _: ArrayType | _: StructType => to_json(struct(c))
    case _: UserDefinedType[_] => c.cast(StringType)
    case _ => c
  }
}

final case class Expect(rows: Long, hash: String)

/** Registry queries (`SparkEntry.queries`) under the Bench protocol:
  * `Caches.reset` before each op, terminal sort stripped, noop sink. */
final class RegistryWorkload(spark: SparkSession, dir: String, names: Seq[String],
                             expected: Map[String, Expect], seed: Long,
                             dump: Option[String]) extends Workload {
  private val fns = graft.SparkEntry.queries
  names.foreach(n => require(fns.contains(n), s"unknown registry query $n"))
  private val digests = scala.collection.mutable.TreeMap.empty[String, Map[String, Any]]

  private def noop(df: DataFrame): Unit =
    org.apache.spark.sql.GraftBenchPlan.withoutTerminalSort(df)
      .write.format("noop").mode("overwrite").save()

  private def timedOp(n: String): Op = new Op {
    val name = n
    override def prepare(): Unit = graft.Caches.reset(spark)
    def run(ctx: Ctx) = {
      val df = ctx.phase("build")(fns(n)(spark, dir))
      ctx.phase("exec")(noop(df))
      () => None
    }
  }

  /** Warm op: the timed path once, then the output check. */
  private def checkOp(n: String): Op = new Op {
    val name = n
    override def prepare(): Unit = graft.Caches.reset(spark)
    def run(ctx: Ctx) = {
      val df = ctx.phase("build")(fns(n)(spark, dir))
      ctx.phase("exec")(noop(df))
      val (rows, hash) = Digest.of(df)
      digests(n) = Map("rows" -> rows, "hash" -> hash)
      dump.foreach(d => df.write.mode("overwrite").parquet(s"$d/$n"))
      () => expected.get(n) match {
        case None => Some(s"no stored expectation for $n (rows=$rows hash=$hash)")
        case Some(e) if e.rows != rows || e.hash != hash =>
          Some(s"rows $rows hash $hash, expected rows ${e.rows} hash ${e.hash}")
        case _ => None
      }
    }
  }

  def warm: Seq[Op] = new Random(seed).shuffle(names).map(checkOp)
  def pass(i: Int): Seq[Op] = new Random(seed * 1000003L + i).shuffle(names).map(timedOp)

  override def layerProbes(): Map[String, Double] = {
    val times = for (_ <- 1 to 5; t <- graft.Tables.names) yield {
      val t0 = System.nanoTime()
      graft.Tables.load(spark, dir, t)
      (System.nanoTime() - t0) / 1e6
    }
    Map("tables.load_ms" -> Stats.median(times))
  }

  override def info: Map[String, Any] = Map("digests" -> digests,
    "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) })
}

/** The paper's pipeline over generated tracking data: entry point A
  * (openness prep, radius, read order, PRESS, matchups) and entry point B
  * (coverage features, random-forest metrics). Every stage table is
  * written as parquet and read back by the next stage. The warm pass
  * writes under `stageDir/warm`, the timed passes under `stageDir/timed`;
  * run.py checks that both hold the same non-empty tables and replays the
  * relational stages in DuckDB. */
final class BdbWorkload(spark: SparkSession, inDir: String, stageDir: String, seed: Long)
    extends Workload {
  import graft.bdb._

  private def in(t: String): DataFrame = spark.read.parquet(s"$inDir/$t.parquet")

  /** (stage, output table, builder given the stage-table reader) in
    * dependency order. */
  private val steps: Seq[(String, String, (String => DataFrame) => DataFrame)] = Seq(
    ("prep", "cleaned", _ => OpennessPrep(in("tracking"), in("plays"), in("player_play"))),
    ("radius", "radius", st => RadiusStage(st("cleaned"))),
    ("read_order", "timing", _ => ReadOrder.dropbackTiming(in("tracking"), in("plays"), in("players"))),
    ("read_order", "reads", _ => ReadOrder.readsData(in("tracking"), in("player_play"))),
    ("press", "throws", st => QBMetrics.throwScoring(in("plays"), in("player_play"), st("timing"), st("reads"))),
    ("press", "press", st => QBMetrics.press(st("throws"), in("player_play"), in("players"))),
    ("matchups", "trees", _ => MatchupAnalysis.routeTrees(in("tracking"), in("player_play"), in("plays"))),
    ("matchups", "mirrors", st => MatchupAnalysis.mirrorMatches(st("trees"))),
    ("coverage", "features", _ => CoveragePlayModel.features(in("plays"), in("players"),
        in("player_play"), in("tracking"), positions = Seq("CB", "S"))),
    ("coverage", "rf_metrics", st => CoveragePlayModel.rfMetrics(st("features"))))

  val stageNames: Seq[String] = steps.map(_._1).distinct

  private def passOps(dir: String): Seq[Op] = steps.map { case (stage, table, f) =>
    new Op {
      val name = s"$stage/$table"
      def run(ctx: Ctx) = {
        val df = ctx.phase("build")(f(t => spark.read.parquet(s"$dir/$t")))
        ctx.phase("exec")(df.write.mode("overwrite").parquet(s"$dir/$table"))
        () => None
      }
    }
  }

  def warm: Seq[Op] = passOps(s"$stageDir/warm")
  def pass(i: Int): Seq[Op] = passOps(s"$stageDir/timed")

  override def spanMetrics(spans: Seq[Span], opNames: Map[Int, String], passes: Int): Map[String, Double] = {
    val opSpans = spans.filter(s => s.name == "op" && opNames.contains(s.op))
    stageNames.map { stage =>
      val total = opSpans.filter(s => opNames(s.op).startsWith(stage + "/"))
        .map(s => s.endMs - s.startMs).sum
      s"bdb.${stage}_s" -> total / 1000.0 / passes
    }.toMap
  }

  /** Write cost alone: each stage table read back and written again. */
  override def layerProbes(): Map[String, Double] = {
    val t0 = System.nanoTime()
    steps.foreach { case (_, t, _) =>
      spark.read.parquet(s"$stageDir/timed/$t").write.mode("overwrite").parquet(s"$stageDir/rewrite/$t")
    }
    Map("bdb.write_s" -> (System.nanoTime() - t0) / 1e9) ++ Kernels.probe(seed)
  }

  /** The oracle SQL of the registry's bdb queries, which read the fixture
    * path; run.py points it at the generated tables. */
  override def info: Map[String, Any] = Map(
    "stage_tables" -> steps.map(_._2),
    "fixture_path" -> BdbMini.fixturePath,
    "oracle_sql" -> graft.SparkEntry.oracleSql.filter(_._1.startsWith("bdb_")))
}

/** Single-thread timings of the two domain kernels on generated arrays. */
object Kernels {
  import graft.domain.{Interception, Openness}

  def probe(seed: Long): Map[String, Double] = {
    val rnd = new Random(seed)
    val calls = 300
    val args = Array.fill(calls) {
      (3.0 + rnd.nextDouble() * 3.0, rnd.nextDouble() * 6.28, 10.0 + rnd.nextDouble() * 100.0,
       5.0 + rnd.nextDouble() * 43.0, Array.fill(11)(rnd.nextDouble() * 120.0),
       Array.fill(11)(rnd.nextDouble() * 53.3), Array.fill(11)(2.0 + rnd.nextDouble() * 6.0),
       15.0 + rnd.nextDouble() * 10.0, rnd.nextDouble() * 60.0, rnd.nextDouble() * 53.3)
    }
    var samples = 0L
    var sink = 0.0
    var k1 = 0.0
    var k2 = 0.0
    // one untimed round so the JIT has compiled the loop
    for (round <- 0 to 1) {
      val t0 = System.nanoTime()
      samples = 0L
      args.zipWithIndex.foreach { case ((vs, dir, px, py, dx, dy, ds, vb, fx, fy), i) =>
        sink += Openness.openCount(vs, dir, px, py, dx, dy, ds, vb, fx, fy, i.toLong, 1.0)
        val x0 = math.max(0.0, px - vs); val x1 = math.min(Interception.FieldX, px + vs)
        val y0 = math.max(0.0, py - vs); val y1 = math.min(Interception.FieldY, py + vs)
        samples += math.ceil((x1 - x0) * (y1 - y0) * 100.0).toLong
      }
      if (round == 1) k2 = (System.nanoTime() - t0).toDouble / samples
    }
    val k1Calls = 3000
    for (round <- 0 to 1) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < k1Calls) {
        val a = args(i % calls)
        sink += Interception.partialRadius(a._1, a._3, a._4, a._8, a._9, a._10)(i % 360)
        i += 1
      }
      if (round == 1) k1 = (System.nanoTime() - t0) / 1e3 / k1Calls
    }
    if (sink.isNaN) throw new IllegalStateException("kernel probe produced NaN")
    Map("domain.k2_ns_per_sample" -> k2, "domain.k1_us_per_call" -> k1)
  }
}

/** The play viewer as a closed loop with one client: each op looks up one
  * seeded (gameId, playId, frameId, nflId) key with
  * `PlayQueries.playFrame` (collected) and `PlayQueries.reachPolygon`. */
final class LookupWorkload(spark: SparkSession, inDir: String, seed: Long, perPass: Int)
    extends Workload {
  import graft.serve.PlayQueries

  private val tracking = spark.read.parquet(s"$inDir/tracking.parquet")
  private val frameCols = Seq("nflId", "displayName", "club", "x", "y", "s", "a", "o", "dir", "event")

  /** The generated frames, indexed on the driver, to check lookups. */
  private val frames: Map[(Long, Int, Int), Set[Seq[Any]]] =
    tracking.select((Seq("gameId", "playId", "frameId") ++ frameCols).map(col): _*)
      .collect().toSeq
      .groupBy(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .map { case (k, rs) => k -> rs.map(r => r.toSeq.drop(3)).toSet }
  private val keys = frames.keys.toIndexedSeq.sorted

  private def op(rnd: Random): Op = {
    val key @ (g, p, f) = keys(rnd.nextInt(keys.size))
    val ids = frames(key).toSeq.flatMap(r => Option(r.head).map(_.asInstanceOf[Long])).sorted
    val nflId = ids(rnd.nextInt(ids.size))
    new Op {
      val name = "lookup"
      def run(ctx: Ctx) = {
        val rows = ctx.phase("frame")(PlayQueries.playFrame(tracking, g, p, f).collect())
        val ball = rows.find(_.getAs[String]("displayName") == "football")
        val (bx, by, vb) = ball.map(b => (b.getAs[Double]("x"), b.getAs[Double]("y"),
          math.max(b.getAs[Double]("s"), 1.0))).getOrElse((60.0, 26.65, 20.0))
        val poly = ctx.phase("reach")(PlayQueries.reachPolygon(tracking, g, p, f, nflId, vb, bx, by))
        () => {
          val got = rows.map(_.toSeq).toSet
          if (rows.length != frames(key).size || got != frames(key))
            Some(s"frame $key: ${rows.length} rows differ from the generated frame")
          else if (poly.size != 360 || poly.exists { case (_, x, y) =>
              x < 0 || x > 120.0 || y < 0 || y > 53.3 || x.isNaN || y.isNaN })
            Some(s"reach polygon of $nflId in $key is malformed")
          else None
        }
      }
    }
  }

  def warm: Seq[Op] = { val r = new Random(seed); Seq.fill(perPass)(op(r)) }
  def pass(i: Int): Seq[Op] = { val r = new Random(seed * 1000003L + i + 1); Seq.fill(perPass)(op(r)) }

  override def spanMetrics(spans: Seq[Span], opNames: Map[Int, String], passes: Int): Map[String, Double] = {
    def med(n: String) = Stats.median(spans.filter(s => s.name == n && opNames.contains(s.op))
      .map(s => s.endMs - s.startMs))
    Map("serve.frame_ms" -> med("frame"), "serve.reach_ms" -> med("reach"))
  }

  override def info: Map[String, Any] = Map("frames" -> keys.size)
}

/** Several workloads' ops as one closed loop: each pass runs all of their
  * ops in one seeded interleaved order. */
final class MixedWorkload(parts: Seq[Workload], seed: Long) extends Workload {
  def warm: Seq[Op] = new Random(seed).shuffle(parts.flatMap(_.warm))
  def pass(i: Int): Seq[Op] = new Random(seed * 1000003L + i).shuffle(parts.flatMap(_.pass(i)))
  override def layerProbes(): Map[String, Double] = parts.flatMap(_.layerProbes()).toMap
  override def spanMetrics(spans: Seq[Span], opNames: Map[Int, String], passes: Int): Map[String, Double] =
    parts.flatMap(_.spanMetrics(spans, opNames, passes)).toMap
  override def info: Map[String, Any] = parts.flatMap(_.info).toMap
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Harrell-Davis quantile: a Beta-weighted average of all order
    * statistics. On a few dozen latencies of mixed queries it moves far
    * less from run to run than the sample quantile, which jumps between
    * neighbouring queries. */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      import org.apache.commons.math3.special.Beta.regularizedBeta
      val s = xs.sorted
      val n = s.size
      val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
      s.indices.map { i =>
        (regularizedBeta((i + 1).toDouble / n, a, b) - regularizedBeta(i.toDouble / n, a, b)) * s(i)
      }.sum
    }
}
