package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.engine.WebSchema
import graft.operators.Curate

/** `curate-chain`: `Curate.curate` with the `d_curate` configuration
  * (blocklist + a 5-docs-per-host cap, every other dial at its CLI default)
  * over the `d_curate` planted-text docs, written to parquet the way
  * `graft.Main curate` writes it. The output count and hash must be the
  * same on every op.
  */
final class CurateWorkload(spark: SparkSession, ctx: Ctx)
    extends Workload(spark, ctx) {

  import CurateWorkload.n

  val name = "curate-chain"
  val warmupOps = 2

  private val fixture = CurateWorkload.fixture(ctx)
  private val config = Curate.Config(blocklist = Seq("blocked.bad"), maxPerHost = 5)
  private var reference: Option[(Long, String)] = None

  def prepare(): Unit = Fixtures.ensure(spark, fixture) { out =>
    Fixtures.curateDocs(spark, n, ctx.seed).write.parquet(out)
  }

  private def load(): DataFrame = {
    val raw = spark.read.parquet(fixture.resolve("data").toString)
    WebSchema.validate(raw).left.foreach(err => throw new IllegalStateException(err))
    raw
  }

  def setup(): Unit = Fixtures.load(spark, fixture)

  def op(i: Int): OpOutcome = {
    val out = ctx.run.resolve(s"curated-$i")
    Curate.curate(load(), config).write.mode("overwrite").parquet(out.toString)
    outcome(out)
  }

  private def outcome(out: java.nio.file.Path) = OpOutcome(n, () =>
    try {
      val got = Fixtures.digest(spark.read.parquet(out.toString))
      if (got._1 == 0L) throw new IllegalStateException(s"$name: empty output")
      reference match {
        case None => reference = Some(got)
        case Some(want) if want != got => throw new IllegalStateException(
          s"$name: output rows/hash $got differ from the first op's $want")
        case _ =>
      }
    } finally Util.deleteTree(out))

  /** The stages of `Curate.stages` applied one by one, each materialized
    * (persisted and counted) in its own span, as `curateWithCounts` does.
    */
  def tracedOp(i: Int, tr: Tracer): OpOutcome = {
    val out = ctx.run.resolve(s"curated-$i")
    note(i, "scan.input_bytes", Util.tree(fixture.resolve("data"))._2.toDouble)
    var cur = tr.span("scan") {
      val df = load().persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    for ((stage, f) <- Curate.stages(config)) {
      val next = tr.span(s"operators.Curate.$stage") {
        val next = f(cur).persist(StorageLevel.MEMORY_AND_DISK)
        note(i, s"operators.Curate.$stage.rows_out", next.count().toDouble)
        next
      }
      cur.unpersist(false)
      cur = next
    }
    tr.span("operators.Curate.write")(cur.write.mode("overwrite").parquet(out.toString))
    cur.unpersist(false)
    outcome(out)
  }
}

object CurateWorkload {
  val n = 20000L

  def fixture(ctx: Ctx): java.nio.file.Path =
    ctx.fixtures.resolve(s"curate-r${Fixtures.RecipeVersion}-s${ctx.seed}-n$n")
}
