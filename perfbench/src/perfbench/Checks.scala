package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.materialize.Materialize

/** Order-independent content hash of a table: row count plus two
  * independent folds of each row's 64-bit hash.
  */
final case class TableHash(rows: Long, xor: Long, sum: Long)

object Checks {

  private def aggs(df: DataFrame) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    Seq(count(lit(1)).as("rows"), coalesce(bit_xor(h), lit(0L)).as("xor"),
      coalesce(sum(pmod(h, lit(2147483647L))), lit(0L)).as("sum"))
  }

  def hash(df: DataFrame): TableHash = {
    val a = aggs(df)
    val r = df.agg(a.head, a.tail: _*).head()
    TableHash(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** `df` with its content hash observed, so the hash comes from the very
    * execution that is timed.
    */
  def observed(df: DataFrame): (DataFrame, () => TableHash) = {
    val obs = Observation()
    val a = aggs(df)
    val out = df.observe(obs, a.head, a.tail: _*)
    (out, () => {
      val r = awaitRow(obs)
      TableHash(r.getLong(0), r.getLong(1), r.getLong(2))
    })
  }

  /** The observed row, or a failure instead of a hang when the action that
    * should have produced it never ran the observed plan.
    */
  def awaitRow(obs: Observation): Row =
    Await.result(obs.future, Duration(60, "s"))

  /** Hash of a warehouse's node and edge tables (bucket column excluded). */
  def warehouse(spark: SparkSession, wh: Path): (TableHash, TableHash) =
    (hash(Materialize.readNodes(spark, wh.toString)),
      hash(Materialize.readEdges(spark, wh.toString)))
}

object Io {

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  private def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  /** Bytes and count of the parquet data files under `dir`. */
  def parquetBytes(dir: Path): (Long, Int) = {
    val fs = files(dir).filter(_.getFileName.toString.endsWith(".parquet"))
    (fs.map(Files.size).sum, fs.size)
  }

  /** Parquet bytes of a warehouse's node and edge tables (lineage excluded). */
  def warehouseBytes(wh: Path): Long =
    parquetBytes(wh.resolve("nodes"))._1 + parquetBytes(wh.resolve("edges"))._1
}
