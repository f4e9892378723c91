package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.fixtures.WebGen

/** Seeded fixtures, generated once per (recipe, seed, size) outside every
  * timed run and cached under the state directory. Each fixture directory
  * holds the parquet table and a `_fixture` file with its row count and an
  * order-independent hash; every load recomputes both and fails the run on
  * a mismatch, so a stale or altered fixture cannot change the workload.
  */
object Fixtures {

  /** Bump when a recipe below changes: old cache entries are then ignored. */
  val RecipeVersion = 1

  val WebFlags = WebGen.Flags(dupUrls = true, nullText = true, badExtract = true)

  /** Rows, hash: the hash is the decimal sum of xxhash64 over all columns. */
  def digest(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def readSidecar(dir: Path): Option[(Long, String)] = {
    val f = dir.resolve("_fixture")
    if (!Files.exists(f)) None
    else new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim
      .split(" ") match {
      case Array(n, h) => Some((n.toLong, h))
      case _ => None
    }
  }

  /** Generates `dir/data` with `make` unless a complete entry exists.
    * Written to a temp dir first and renamed, so a killed run leaves no
    * half fixture behind.
    */
  def ensure(spark: SparkSession, dir: Path)(make: String => Unit): Unit = {
    if (readSidecar(dir).isDefined) return
    val tmp = Paths.get(dir.toString + ".tmp")
    Util.deleteTree(tmp)
    Files.createDirectories(tmp)
    make(tmp.resolve("data").toString)
    val (n, h) = digest(spark.read.parquet(tmp.resolve("data").toString))
    Files.write(tmp.resolve("_fixture"), s"$n $h".getBytes(StandardCharsets.UTF_8))
    Util.deleteTree(dir)
    Files.createDirectories(dir.getParent)
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Loads `dir/data` and checks it against its recorded count and hash. */
  def load(spark: SparkSession, dir: Path): DataFrame = {
    val df = spark.read.parquet(dir.resolve("data").toString)
    val want = readSidecar(dir).getOrElse(
      throw new IllegalStateException(s"fixture $dir has no _fixture record"))
    val got = digest(df)
    if (got != want)
      throw new IllegalStateException(
        s"fixture $dir changed: recorded rows/hash $want, found $got")
    df
  }

  /** WebGen web pages in the program's input schema (no `p_day`). */
  def webPages(spark: SparkSession, n: Long, seed: Long,
      flags: WebGen.Flags): DataFrame =
    WebGen.generate(spark, n, seed, flags).drop("p_day")

  /** The day key `graft.Main` derives from `warc_ts` for `validate`. */
  def withDay(df: DataFrame): DataFrame =
    df.withColumn("partition", date_format(col("warc_ts"), "yyyy-MM-dd"))

  /** The `d_curate` planted-text recipe (SparkEntry `d_curate`) over
    * `spark.range(n)`, with doc ids offset by the seed and the two input
    * columns the recipe does not set filled in so the table has the
    * program's input schema.
    */
  def curateDocs(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val k = col("id") + lit(seed * 1000003L)
    def base(tag: org.apache.spark.sql.Column) = concat(
      lit("The quick brown fox named "), tag,
      lit(" jumps over the lazy dog in the field today.\n"),
      lit("Many people walk along the river and watch the water move slowly past them.\n"),
      lit("Every sentence here contains plenty of ordinary words that keep the metrics happy.\n"),
      lit("Some final words arrive at the end of this small test document now."))
    val twin = base(lit("twincommon"))
    val text = when(k % 5 === 0,
        when(k % 10 === 0, upper(twin)).otherwise(twin))
      .otherwise(concat(
        when(k % 3 === 0, base(lit("shared")))
          .otherwise(base(concat(lit("own"), k.cast("string")))),
        lit("\n\n"),
        base(concat(lit("tail"), k.cast("string"))),
        when(k % 7 === 0, lit(" {")).otherwise(lit(""))))
    val url = when(k % 17 === 0,
        concat(lit("https://blocked.bad/p/"), k.cast("string")))
      .otherwise(concat(lit("https://h"), (k % 10).cast("string"),
        lit(".example.org/p/"), k.cast("string")))
    val html = encode(when(k % 13 === 0,
        lit("<html><head><meta name=\"robots\" content=\"noindex\"></head><body></body></html>"))
      .otherwise(lit("<html><body>ok</body></html>")), "UTF-8")
    spark.range(n).select(
      url.as("url"),
      (unix_timestamp(lit(WebGen.Epoch)) + col("id") * WebGen.SecondsStep)
        .cast("timestamp").as("warc_ts"),
      html.as("html"),
      text.as("text"),
      lit("en").as("lang"))
  }
}
