package graft.wirebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** The batch workload's inputs: `documents` and `events` tables with the
  * shapes of the repo's test data, generated from one fixed seed (the
  * stored answers are per gate, so the tables never change with
  * `--seed`).
  */
object BatchData {

  val Seed = 20240301L
  val Docs = 600
  val Events = 12000
  val Users = 180

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long, event_type: String,
      value: Double, props: String)

  private val Vocab = ("a the spark line column order small sort fast value scan hash slow " +
    "group batch agg filter query big key window row part table stream merge data join " +
    "vector customer").split(' ')

  def docs: Seq[Doc] = {
    val rnd = new scala.util.Random(Seed)
    val langs = Seq("en", "fr", "de", "zh")
    val texts = new Array[String](Docs)
    (0 until Docs).map { i =>
      def words(n: Int) = Seq.fill(n)(Vocab(rnd.nextInt(Vocab.length)))
      val text =
        if (i % 10 == 3) { // near-duplicate: one word of an earlier doc replaced
          val ws = texts(i - 3).split(' ')
          ws(rnd.nextInt(ws.length)) = Vocab(rnd.nextInt(Vocab.length))
          ws.mkString(" ")
        } else if (i % 25 == 7) // containment: an earlier doc inside a longer one
          (texts(i - 7).split(' ').toSeq ++ words(4 + rnd.nextInt(12))).mkString(" ")
        else words(8 + rnd.nextInt(88)).mkString(" ")
      texts(i) = text
      Doc(i, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
  }

  def events: Seq[Event] = {
    val rnd = new scala.util.Random(Seed + 1)
    val types = Seq("signup", "purchase", "view", "click", "error")
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 86400L * 1000000L
    val ts = Array.fill(Events)((rnd.nextDouble() * spanMicros).toLong).sorted
    (0 until Events).map { i =>
      Event(i, t0.plusNanos(ts(i) * 1000L), rnd.nextInt(Users).toLong,
        types(rnd.nextInt(types.size)), (rnd.nextInt(20000) / 100.0),
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }

  /** Write both tables as single-file parquet under `dir`. */
  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    docs.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    events.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** (row count, order-independent hash) of a gate's answer. Doubles are
    * rounded to 9 decimals first, so a summation-order last bit cannot
    * flip the hash.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 9).as(f.name)
        case _ => c.as(f.name)
      }
    }
    val h = xxhash64(to_json(struct(cols.toSeq: _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def readExpected(path: Path): Map[String, (Long, String)] = {
    val root = mapper.readTree(Files.readString(path, UTF_8))
    root.fieldNames().asScala.map { g =>
      val n = root.get(g)
      g -> (n.get("rows").asLong, n.get("hash").asText)
    }.toMap
  }

  def writeExpected(path: Path, answers: Map[String, (Long, String)]): Unit = {
    val body = answers.toSeq.sortBy(_._1).map { case (g, (rows, hash)) =>
      s"""  "$g": {"rows": $rows, "hash": "$hash"}""" }.mkString("{\n", ",\n", "\n}\n")
    Files.write(path, body.getBytes(UTF_8))
  }
}
