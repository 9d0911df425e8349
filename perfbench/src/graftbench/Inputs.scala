package graftbench

import java.util.SplittableRandom

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Seeded inputs with the schemas of the test data's `events` and
  * `documents` tables, written as parquet without going through Spark.
  */
object Inputs {

  val Metrics: IndexedSeq[String] = IndexedSeq("error", "view", "signup", "purchase", "click")
  val Users = 1500
  val StartMs: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  final case class Reading(eventId: Long, tsMicros: Long, userId: Long, metric: String, value: Double) {
    def tsSec: Long = Math.floorDiv(tsMicros, 1000000L)
  }

  /** `n` readings in time order, one per equal slot of
    * [startMs, startMs + spanMs), ids from `firstId`. Values are never 0.
    */
  def readings(rng: SplittableRandom, firstId: Long, n: Int, startMs: Long, spanMs: Long): IndexedSeq[Reading] = {
    val slot = spanMs * 1000L / n
    (0 until n).map { i =>
      Reading(
        firstId + i,
        startMs * 1000L + i * slot + rng.nextLong(slot),
        rng.nextInt(Users).toLong,
        Metrics(rng.nextInt(Metrics.size)),
        (1 + rng.nextInt(56021)) / 100.0)
    }
  }

  final case class Doc(id: Long, text: String)

  private val baseWords = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value", "data",
    "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch", "dup")
  val Vocabulary: IndexedSeq[String] = (baseWords ++ (0 until 369).map(i => f"w$i%03d")).toIndexedSeq

  /** Zipf(0.9) cumulative weights over [[Vocabulary]] ranks. */
  private val cumulative: Array[Double] = {
    val w = Vocabulary.indices.map(r => 1.0 / math.pow(r + 1.0, 0.9))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** Text of document `id`. The first eight documents are the BM25 query
    * panel; their first four words sit at fixed vocabulary ranks, one
    * common to one rare, so query cost does not depend on the seed.
    */
  def text(rng: SplittableRandom, id: Long): String = {
    val len = 8 + rng.nextInt(53)
    val words = (0 until len).map { _ =>
      val i = java.util.Arrays.binarySearch(cumulative, rng.nextDouble())
      Vocabulary(math.min(Vocabulary.size - 1, if (i >= 0) i else -i - 1))
    }
    val q = id.toInt
    val head = if (id < 8) Seq(q, 10 + 3 * q, 40 + 10 * q, 150 + 25 * q).map(Vocabulary) else Nil
    (head ++ words.drop(head.size)).mkString(" ")
  }

  // ---- parquet ----------------------------------------------------------

  private val eventsSchema: MessageType = MessageTypeParser.parseMessageType(
    """message events {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  required binary props (STRING);
      |}""".stripMargin)

  private val docsSchema: MessageType = MessageTypeParser.parseMessageType(
    """message documents {
      |  required int64 doc_id;
      |  required binary text (STRING);
      |  required binary lang (STRING);
      |  required binary source (STRING);
      |  required int64 n_chars;
      |}""".stripMargin)

  private val langs = IndexedSeq("en", "de", "fr", "es", "zh")

  /** Write to a hidden name and rename, so a directory listing never
    * sees a partial file.
    */
  private def write(conf: Configuration, file: String, schema: MessageType)(
      rows: SimpleGroupFactory => Iterator[org.apache.parquet.example.data.Group]): Unit = {
    val target = new Path(file)
    val tmp = new Path(target.getParent, "." + target.getName + ".tmp")
    val fs = target.getFileSystem(conf)
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows(new SimpleGroupFactory(schema)).foreach(w.write)
    finally w.close()
    require(fs.rename(tmp, target), s"could not land $file")
  }

  def writeReadings(conf: Configuration, file: String, rs: Seq[Reading]): Unit =
    write(conf, file, eventsSchema) { f =>
      rs.iterator.map { r =>
        f.newGroup()
          .append("event_id", r.eventId)
          .append("ts", r.tsMicros)
          .append("user_id", r.userId)
          .append("event_type", r.metric)
          .append("value", r.value)
          .append("props", s"""{"k": ${r.eventId % 100}}""")
      }
    }

  def writeDocs(conf: Configuration, file: String, ds: Seq[Doc]): Unit =
    write(conf, file, docsSchema) { f =>
      ds.iterator.map { d =>
        f.newGroup()
          .append("doc_id", d.id)
          .append("text", d.text)
          .append("lang", langs((d.id % langs.size).toInt))
          .append("source", s"src${d.id % 20}")
          .append("n_chars", d.text.length.toLong)
      }
    }
}
