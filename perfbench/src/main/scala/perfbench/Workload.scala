package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one op hands back: the input documents it processed and the output
  * check, which runs after the op's clock has stopped and throws on a
  * wrong output.
  */
final case class OpOutcome(docs: Long, check: () => Unit)

/** Paths and seed shared by every workload of one run. `fixtures` is the
  * cache that outlives the run; `run` is this run's scratch directory.
  */
final case class Ctx(fixtures: Path, run: Path, seed: Long)

/** A closed-loop workload. `prepare` generates the missing fixtures in a
  * JVM of its own that exits before the measured one starts. The measured
  * JVM's thread runs `setup` several times (fixture load and verification,
  * baseline save and load), `setupOnce` once (state that only the ops may
  * advance: a committed full run, a backfilled stream), then ops back to
  * back.
  */
abstract class Workload(val spark: SparkSession, val ctx: Ctx) {
  def name: String
  def warmupOps: Int
  /** Upper bound on ops per run (the ingest workload has a fixed number of
    * pre-generated tick files).
    */
  def maxOps: Int = Int.MaxValue
  def prepare(): Unit
  def setup(): Unit
  def setupOnce(): Unit = ()
  def op(i: Int): OpOutcome
  def tracedOp(i: Int, tr: Tracer): OpOutcome
  /** Extra traced passes run after the traced ops, each as one op. A pass
    * reports only its metrics whose names start with the paired prefix.
    */
  def tracedExtras: Seq[(String, (Int, Tracer) => OpOutcome)] = Nil
  /** Per-layer values measured during set-up (median over set-up reps). */
  def setupLayers: Map[String, Double] = Map.empty
  def close(): Unit = ()

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Per-op layer values that do not come from task metrics. */
  val notes = mutable.HashMap.empty[(Int, String), Double]
  protected def note(op: Int, key: String, v: Double): Unit =
    notes((op, key)) = notes.getOrElse((op, key), 0.0) + v
}

object Workload {
  val Names: Seq[String] =
    Seq("validate-full", "validate-resume", "ingest-ticks", "curate-chain")

  def apply(name: String, spark: SparkSession, ctx: Ctx): Workload = name match {
    case "validate-full"   => new ValidateWorkload(spark, ctx, resume = false)
    case "validate-resume" => new ValidateWorkload(spark, ctx, resume = true)
    case "ingest-ticks"    => new IngestWorkload(spark, ctx)
    case "curate-chain"    => new CurateWorkload(spark, ctx)
  }

  /** The fixture directories a workload loads; known without a session. */
  def fixtureDirs(name: String, ctx: Ctx): Seq[Path] = name match {
    case "validate-full" | "validate-resume" => Seq(ValidateWorkload.fixture(ctx))
    case "ingest-ticks" => IngestWorkload.fixtures(ctx)
    case "curate-chain" => Seq(CurateWorkload.fixture(ctx))
  }

  /** Spark confs a workload sets beyond the common session confs; known
    * before the session exists.
    */
  def confs(name: String): Map[String, String] = name match {
    case "validate-resume" => Map(graft.engine.TableIO.CommitModeConf -> "manifest")
    case _ => Map.empty
  }

  /** Count of i in [from, until) with i % m == 0. */
  def multiples(from: Long, until: Long, m: Long): Long = {
    def upTo(x: Long) = if (x <= 0) 0L else (x - 1) / m + 1 // [0, x)
    upTo(until) - upTo(from)
  }
}
