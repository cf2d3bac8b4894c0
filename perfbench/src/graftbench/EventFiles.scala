package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.Schemas
import graft.streaming.EventGenerator

/** Event files for the stream workloads.
  *
  * Lines come from `EventGenerator` and are replayed in event-time
  * order: each file covers one contiguous range of event time, and
  * files get strictly increasing mtimes because `FileStreamSource`
  * admits files in mtime order. (`EventGenerator.writeAll` slices
  * round-robin, so every file spans the whole time range and the
  * watermark drops most of the next file's rows.) The seed places the
  * injected duplicates (a repeat of a line directly after it, so dedup
  * state still holds the original) and malformed lines.
  */
object EventFiles {
  final case class Topic(name: String, schema: StructType, lines: Vector[String],
      dups: Int, malformed: Int)

  val DupRate = 0.01
  val MalformedRate = 0.002

  private def frames(spark: SparkSession, dir: String): Seq[(String, StructType, DataFrame)] = Seq(
    ("orders", Schemas.order, EventGenerator.orderEvents(spark, dir)),
    ("items", Schemas.item, EventGenerator.itemEvents(spark, dir)),
    ("payments", Schemas.payment, EventGenerator.paymentEvents(spark, dir)))

  def topics(spark: SparkSession, tableDir: Path, seed: Long): Seq[Topic] =
    frames(spark, tableDir.toString).zipWithIndex.map { case ((name, schema, df), ti) =>
      // sorted after collect: a Spark sort on the JSON-extracted keys
      // costs several times the extraction itself
      val ordered = df
        .select(col("value"), get_json_object(col("value"), "$.event_time"),
          get_json_object(col("value"), "$.event_id"))
        .collect().map(r => (r.getString(1), r.getString(2), r.getString(0)))
        .sortBy(r => (r._1, r._2)).map(_._3)
      val rnd = new java.util.SplittableRandom(seed * 1000003L + ti)
      val out = Vector.newBuilder[String]
      var dups = 0; var bad = 0
      ordered.foreach { line =>
        if (rnd.nextDouble() < MalformedRate) {
          bad += 1
          out += (if (bad % 2 == 0) s"corrupt line $seed-$ti-$bad"
            else s"""{"event_type":"malformed","order_id":"$bad"}""")
        }
        out += line
        if (rnd.nextDouble() < DupRate) { dups += 1; out += line }
      }
      Topic(name, schema, out.result(), dups, bad)
    }

  /** Splits `lines` into `n` contiguous chunks of near-equal size. */
  def chunks(lines: Vector[String], n: Int): Vector[Vector[String]] =
    (0 until n).map(i => lines.slice(lines.size * i / n, lines.size * (i + 1) / n)).toVector

  /** Writes one file atomically (hidden temp name, then rename) with
    * the given mtime, so a listing never sees a partial file. */
  def writeFile(dir: Path, name: String, lines: Seq[String], mtimeMs: Long): Path = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtimeMs))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def fileName(topic: String, k: Int): String = f"$topic-$k%05d.json"
}
