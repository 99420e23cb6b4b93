package e2ebench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/** Seeded `events`-schema input. Only `event_id`, `user_id` and `ts` vary:
  * they are the only columns `RouteEventGen.fromEvents` reads. */
final case class EventBatch(eventIds: Array[Long], userIds: Array[Long],
    tsMs: Array[Long]) {
  def size: Int = eventIds.length
}

object Gen {
  /** sf0.1-sized base log: 100k events, 1500 users, a 30-day span. */
  val BaseEvents = 100000
  val Users = 1500
  val T0Ms = 1704067200000L // 2024-01-01T00:00:00Z, the fixture's start
  val SpanMs = 30L * 86400000L

  def base(seed: Long): EventBatch = {
    val rng = new SplittableRandom(seed)
    val n = BaseEvents
    EventBatch(Array.tabulate(n)(_.toLong),
      Array.fill(n)(rng.nextInt(Users).toLong),
      Array.fill(n)(T0Ms + rng.nextLong(SpanMs)))
  }

  /** Live batch `i`: `n` events after the base log, timestamps after its
    * span (so each is the newest entry of its ring), one millisecond apart.
    * The last event is the batch's canary: user [[CanaryUser]] and an
    * event id that puts it on the one ipv4u route key [[CanaryPrefix]], so
    * a single page shows whether the batch has been ingested. */
  def liveBatch(seed: Long, i: Int, n: Int): EventBatch = {
    val rng = new SplittableRandom(seed * 7919L + i)
    val first = BaseEvents.toLong + i.toLong * (n - 1)
    val ids = Array.tabulate(n)(j => first + j)
    val users = Array.fill(n)(rng.nextInt(Users).toLong)
    // eid % 16 == 0 → ipv4u; (eid >> 4) % 20 == 0 → slot = user % 20
    ids(n - 1) = 320L * (CanaryBase + i)
    users(n - 1) = CanaryUser
    EventBatch(ids, users, Array.tabulate(n)(j => T0Ms + SpanMs + i * 1000L * n + j))
  }

  val CanaryUser = 7L
  val CanaryBase = 10000L
  val CanaryMinId: Long = 320L * CanaryBase
  /** RouteEventGen's ipv4u key for slot 7, user 7: 10.(7).(7).(7*16)/28. */
  val CanaryPrefix = "10.7.7.112/28"

  private val schema = MessageTypeParser.parseMessageType(
    """message events {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  required binary props (STRING);
      |}""".stripMargin)

  /** Write `b` as one parquet file at `file` (no Spark job involved). */
  def writeParquet(b: EventBatch, file: java.nio.file.Path): Unit = {
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(new HPath(file.toUri))
      .withConf(conf).withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try {
      var i = 0
      while (i < b.size) {
        w.write(f.newGroup().append("event_id", b.eventIds(i))
          .append("ts", b.tsMs(i) * 1000L).append("user_id", b.userIds(i))
          .append("event_type", "route").append("value", 0.0)
          .append("props", "{}"))
        i += 1
      }
    } finally w.close()
  }

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
    def str(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
    def batch(b: EventBatch): Unit = {
      var i = 0
      while (i < b.size) {
        long(b.eventIds(i)); long(b.userIds(i)); long(b.tsMs(i)); i += 1
      }
    }
    def hex: String = md.digest().map(x => f"${x & 0xff}%02x").mkString.take(16)
  }

  def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(x => f"${x & 0xff}%02x").mkString.take(16)

  /** Zipf(s=1) rank sampler over `n` items. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
}
