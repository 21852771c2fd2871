package perfbench

import java.util.{Base64, SplittableRandom}

import scala.collection.mutable

import org.apache.spark.sql.types._

import graft.cdc.model.RowImage.DeclaredTable

/** One row image of the declared multi-type table, in wire units: the
  * decimal as its unscaled value at scale 4, the date as epoch days, the
  * timestamp as epoch micros, the binary column as base64.
  */
final case class Item(id: Long, amt: Long, day: Int, tsMicros: Long, name: String, payload: String) {

  /** The Debezium-style JSON wire image `RowImage.decodeEnvelope` consumes. */
  def json: String =
    s"""{"id":$id,"amt":"$amt","d":$day,"ts":$tsMicros,"name":"$name","payload":"$payload"}"""

  def bytes: Array[Byte] = Base64.getDecoder.decode(payload)

  /** Scalar projection used by the `(pk, val)` changelog formulations. */
  def value: Double = amt / 10000.0

  /** Canonical text of this image at a given last offset (checksum input). */
  def canonical(offset: Long): String = s"$id|$offset|$amt|$day|$tsMicros|$name|$payload"
}

/** One change event: log position, op code, and both images. */
final case class Event(seq: Long, op: String, key: Long, before: Item, after: Item) {
  def beforeJson: String = if (before == null) null else before.json
  def afterJson: String = if (after == null) null else after.json
}

object Gen {

  val table: DeclaredTable = DeclaredTable("items", StructType(Seq(
    StructField("id", LongType),
    StructField("amt", DecimalType(18, 4)),
    StructField("d", DateType),
    StructField("ts", TimestampType),
    StructField("name", StringType),
    StructField("payload", BinaryType))), Seq("id"))

  /** Source-table DDL matching [[table]] (Derby types). */
  def sourceDdl(name: String): String =
    s"CREATE TABLE $name (ID BIGINT NOT NULL PRIMARY KEY, AMT DECIMAL(18,4), D DATE, " +
      "TS TIMESTAMP, NAME VARCHAR(64), PAYLOAD VARCHAR(64) FOR BIT DATA)"

  private val Day0 = 18000 // 2019-04-14
  private val Micros0 = 1_600_000_000_000_000L

  def item(id: Long, rnd: SplittableRandom): Item = {
    val bytes = new Array[Byte](4 + rnd.nextInt(12))
    rnd.nextBytes(bytes)
    Item(id,
      amt = rnd.nextLong(-1_000_000_000L, 1_000_000_000L),
      day = Day0 + rnd.nextInt(2000),
      tsMicros = Micros0 + rnd.nextLong(100_000_000_000_000L),
      name = "n" + java.lang.Long.toString(rnd.nextLong(1L << 40), 36),
      payload = Base64.getEncoder.encodeToString(bytes))
  }

  /** Snapshot key set with uneven gaps: mostly small steps, now and then a
    * jump of a few thousand, so equal key ranges hold unequal row counts
    * (what the uneven chunk splitter is for).
    */
  def unevenKeys(n: Int, rnd: SplittableRandom): Array[Long] = {
    val out = new Array[Long](n)
    var k = 1000L
    var i = 0
    while (i < n) {
      k += (if (rnd.nextInt(100) == 0) 1000 + rnd.nextInt(5000) else 1 + rnd.nextInt(3))
      out(i) = k
      i += 1
    }
    out
  }
}

/** The generator's own last-writer-wins state, kept independently of the
  * program: key -> (last offset, image). Deleted keys are absent.
  */
final class Expected {
  val rows = mutable.LongMap.empty[(Long, Item)]

  def apply(e: Event): Unit =
    if (e.op == "d") rows.remove(e.key) else rows.update(e.key, (e.seq, e.after))

  def checksum: Checksum = {
    val c = new Checksum
    rows.foreachEntry { (_, v) => c.add(v._2.canonical(v._1)) }
    c
  }
}

/** Order-independent multiset checksum: row count plus the sum of a 64-bit
  * hash of each row's canonical text.
  */
final class Checksum {
  var count = 0L
  var sum = 0L
  def add(s: String): Unit = {
    count += 1
    sum += Checksum.hash64(s)
  }
  def same(o: Checksum): Boolean = count == o.count && sum == o.sum
  override def toString: String = f"rows=$count%d sum=$sum%016x"
}

object Checksum {
  def hash64(s: String): Long = {
    // FNV-1a over UTF-16 units, then a murmur finalizer
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33; h *= 0xc4ceb1a34fe9cc53L; h ^ (h >>> 33)
  }
}

/** Seeded change-event stream over a key universe with hot-key skew: 5% of
  * events create keys that did not exist before, 30% of the rest hit 32 hot
  * keys, and a tenth of the events on existing keys are deletes. Applies
  * every event to `expected` as it is generated.
  */
final class EventGen(seed: Long, initial: Array[Long], expected: Expected) {
  private val HotKeys = 32
  private val HotShare = 0.3
  private val DeleteShare = 0.1
  private val NewKeyShare = 0.05
  private val rnd = new SplittableRandom(seed)
  private val universe = mutable.ArrayBuffer.from(initial)
  private var nextNew = (if (initial.isEmpty) 0L else initial.max) + 1
  private var seq = 0L
  private val hot = Array.fill(math.min(HotKeys, math.max(1, initial.length)))(
    if (initial.isEmpty) 0L else initial(rnd.nextInt(initial.length)))

  def startAt(firstSeq: Long): this.type = { seq = firstSeq; this }

  def next(): Event = {
    val key =
      if (universe.isEmpty || rnd.nextDouble() < NewKeyShare) {
        val k = nextNew; nextNew += 1 + rnd.nextInt(3); universe += k; k
      } else if (rnd.nextDouble() < HotShare) hot(rnd.nextInt(hot.length))
      else universe(rnd.nextInt(universe.length))
    val cur = expected.rows.get(key).map(_._2).orNull
    val e =
      if (cur == null) Event(seq, "c", key, null, Gen.item(key, rnd))
      else if (rnd.nextDouble() < DeleteShare) Event(seq, "d", key, cur, null)
      else Event(seq, "u", key, cur, Gen.item(key, rnd))
    expected(e)
    seq += 1
    e
  }
}
