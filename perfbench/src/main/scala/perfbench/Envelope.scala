package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** One generated Kafka record, envelope-complete. */
final case class Rec(
    topic: String,
    partition: Int,
    timestampMs: Long,
    key: Array[Byte],
    value: Array[Byte],
    headers: Seq[(String, Array[Byte])])

/** The seeded replication input. Every record is a pure function of
  * `(seed, seq)`, so the driver, a Spark task writing the fixture and a
  * test all produce identical bytes without sharing state.
  *
  * The shape is the one `graft.ReplBench` uses for the reference's
  * CDC-style traffic: 16-byte binary keys, values of hex text built from
  * 32-character chunks (six, 192 B, in `ReplBench`), a `src` header,
  * timestamps 1 ms apart. Around it the seed varies what the replication
  * path's cost depends on: the value length (3 to 9 chunks, mean 192 B),
  * null keys (1 in 8), the extra header count (0 to 2) and each topic's
  * partition count (drawn from 2, 4, 6 and 8, the counts of the topic
  * fixtures in `FIXTURES.md`). The spread around `ReplBench`'s shape and
  * the null-key share are assumptions, not measured traffic.
  */
final class Envelope(val seed: Long) extends Serializable {
  import Envelope._

  val topicPartitions: IndexedSeq[Int] = {
    val r = new SplittableRandom(mix(seed ^ 0x5eedL))
    (0 until Topics).map(_ => PartitionCounts(r.nextInt(PartitionCounts.length)))
  }

  def topicName(t: Int): String = s"bench-t$t"

  def record(seq: Long): Rec = {
    val r = new SplittableRandom(mix(seed * 0x9e3779b97f4a7c15L + seq))
    val t = r.nextInt(Topics)
    val key =
      if (r.nextInt(8) == 0) null
      else {
        val k = new Array[Byte](KeyBytes)
        fill(r, k)
        k
      }
    val value = new Array[Byte](ChunkBytes * (3 + r.nextInt(7)))
    fillHex(r, value)
    val extra = (0 until r.nextInt(3)).map { i =>
      val v = new Array[Byte](r.nextInt(24))
      fill(r, v)
      (s"h$i", v)
    }
    Rec(topicName(t), r.nextInt(topicPartitions(t)), BaseTimestampMs + seq, key, value,
      (SeqHeader -> ByteBuffer.allocate(8).putLong(seq).array()) +: (SrcHeader +: extra))
  }

  /** The generator-side digest of records `[from, until)`. */
  def digest(from: Long, until: Long): Digest = {
    val d = new Digest
    var s = from
    while (s < until) { d.add(record(s)); s += 1 }
    d
  }
}

object Envelope {
  val Topics = 3
  val PartitionCounts: IndexedSeq[Int] = IndexedSeq(2, 4, 6, 8)
  val KeyBytes = 16
  val ChunkBytes = 32
  val SeqHeader = "bench.seq"
  val SrcHeader: (String, Array[Byte]) = "src" -> "bench".getBytes(UTF_8)
  val BaseTimestampMs = 1700000000000L

  /** The broker-free source's row shape: the Kafka source schema. */
  val Schema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType)))))))

  /** Spark row in [[Schema]] order; `offset` carries the seq. */
  def row(rec: Rec, seq: Long): Row =
    Row(rec.topic, rec.partition, seq, new java.sql.Timestamp(rec.timestampMs),
      rec.key, rec.value, rec.headers.map { case (k, v) => Row(k, v) })

  def canonical(r: Rec): Array[Byte] =
    canonical(r.topic, r.partition, r.timestampMs, r.key, r.value, r.headers)

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def fill(r: SplittableRandom, b: Array[Byte]): Unit = {
    var i = 0
    while (i < b.length) {
      var x = r.nextLong()
      var j = 0
      while (j < 8 && i < b.length) { b(i) = x.toByte; x >>>= 8; i += 1; j += 1 }
    }
  }

  private val HexDigits = "0123456789abcdef".getBytes(UTF_8)

  private def fillHex(r: SplittableRandom, b: Array[Byte]): Unit = {
    var i = 0
    while (i < b.length) {
      var x = r.nextLong()
      var j = 0
      while (j < 16 && i < b.length) { b(i) = HexDigits((x & 15).toInt); x >>>= 4; i += 1; j += 1 }
    }
  }

  /** The sequence number a record carries, or -1 when the header is gone. */
  def seqOf(headers: Seq[(String, Array[Byte])]): Long =
    headers.collectFirst { case (SeqHeader, v) if v != null && v.length == 8 =>
      ByteBuffer.wrap(v).getLong
    }.getOrElse(-1L)

  /** Canonical bytes of the full envelope: topic, partition, timestamp,
    * key, value and headers, each length-prefixed (-1 for null).
    */
  def canonical(topic: String, partition: Int, timestampMs: Long, key: Array[Byte],
      value: Array[Byte], headers: Seq[(String, Array[Byte])]): Array[Byte] = {
    val tb = topic.getBytes(UTF_8)
    val hs = headers.map { case (k, v) => (k.getBytes(UTF_8), v) }
    def len(b: Array[Byte]) = 4 + (if (b == null) 0 else b.length)
    val n = len(tb) + 4 + 8 + len(key) + len(value) + 4 +
      hs.map { case (k, v) => len(k) + len(v) }.sum
    val buf = ByteBuffer.allocate(n)
    def put(b: Array[Byte]): Unit =
      if (b == null) buf.putInt(-1) else buf.putInt(b.length).put(b)
    put(tb); buf.putInt(partition).putLong(timestampMs); put(key); put(value)
    buf.putInt(hs.length)
    hs.foreach { case (k, v) => put(k); put(v) }
    buf.array()
  }

}

/** Order-insensitive digest of a multiset of records: a count and two
  * independent 64-bit hash sums. Equal multisets give equal digests in
  * any order; a lost, duplicated or altered record changes it.
  */
final class Digest extends Serializable {
  var count = 0L
  var sumA = 0L
  var sumB = 0L

  def add(r: Rec): Unit = {
    val (a, b) = Digest.hashes(Envelope.canonical(r))
    count += 1; sumA += a; sumB += b
  }

  def merge(o: Digest): Unit = { count += o.count; sumA += o.sumA; sumB += o.sumB }

  override def equals(o: Any): Boolean = o match {
    case d: Digest => d.count == count && d.sumA == sumA && d.sumB == sumB
    case _ => false
  }
  override def hashCode: Int = (count ^ sumA ^ sumB).toInt
  override def toString: String = f"$count:$sumA%016x$sumB%016x"
}

object Digest {
  /** The two independent 64-bit hashes of a record's canonical bytes. */
  def hashes(bytes: Array[Byte]): (Long, Long) =
    (XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 17L),
      XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 0x2545f4914f6cdd1dL))
}
