package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer

/** One wire file the generator renamed into the topic directory. */
final case class GenFile(name: String, firstOffset: Long, count: Int,
                         writtenMs: Double)

/** Seeded generator of Debezium-unwrapped `orders` envelopes in the
  * `StreamSync.wireStream` JSON-lines contract, with the exact latest-state
  * model kept beside it.
  *
  * The file bytes depend only on the seed and the sequence of `emit`
  * calls: the Kafka timestamp is derived from the offset, and an event's
  * creation time (its due time on the open-loop schedule) lives only in
  * this object's log, keyed by offset. Delivery keeps per-key order, as the
  * reference's one-partition topics do, so offsets order every key's
  * versions and the model is simply "latest offset per key".
  *
  * Mix: 80 % updates of live keys, 15 % inserts (a quarter of them
  * re-insert a deleted key), 5 % keyed tombstones, over keys chosen
  * uniformly from the live set.
  */
final class Gen(val seed: Long, topicDir: String) {
  private val rnd = new java.util.SplittableRandom(seed)
  private var latest = Array.fill[Long](1 << 18)(-1L) // latest offset of a live key
  private var livePos = Array.fill[Int](1 << 18)(-1)
  private var liveArr = new Array[Int](1 << 18)
  var nLive = 0
  private val dead = ArrayBuffer[Int]()
  var maxKey = 0
  var nextOffset = 0L
  private var fileSeq = 0
  val files = ArrayBuffer[GenFile]()
  var updates, inserts, tombstones = 0L
  /** Due time (wall-clock ms) of each event, indexed by offset − dueBase. */
  private var dueBase = -1L
  private var dueMs = new Array[Double](1 << 16)

  private def grow(k: Int): Unit = if (k >= latest.length) {
    val (old, n) = (latest.length, math.max(k + 1, latest.length * 2))
    latest = java.util.Arrays.copyOf(latest, n)
    java.util.Arrays.fill(latest, old, n, -1L)
    livePos = java.util.Arrays.copyOf(livePos, n)
    java.util.Arrays.fill(livePos, old, n, -1)
    liveArr = java.util.Arrays.copyOf(liveArr, n)
  }

  private def addLive(k: Int): Unit = {
    livePos(k) = nLive; liveArr(nLive) = k; nLive += 1
  }
  private def removeLive(k: Int): Unit = {
    val p = livePos(k); val last = liveArr(nLive - 1)
    liveArr(p) = last; livePos(last) = p; nLive -= 1; livePos(k) = -1
    latest(k) = -1L
  }
  def liveKeys: Iterator[Int] = (0 until nLive).iterator.map(liveArr(_))

  private def pickLive(): Int = liveArr(rnd.nextInt(nLive))

  /** Payload fields of the row version written at `offset`. */
  def payload(key: Int, offset: Long): Gen.Row = {
    var h = Gen.mix(seed * 0x9E3779B97F4A7C15L + offset)
    val cust = 1 + java.lang.Long.remainderUnsigned(h, Gen.Customers).toInt
    h = Gen.mix(h)
    val status = Gen.Statuses(java.lang.Long.remainderUnsigned(h, Gen.Statuses.length).toInt)
    h = Gen.mix(h)
    val cents = java.lang.Long.remainderUnsigned(h, 5000000L)
    val amount = s"${cents / 100}.${"%02d".format(cents % 100)}"
    h = Gen.mix(h)
    val date = 1640995200000000L + java.lang.Long.remainderUnsigned(h, 94608000L) * 1000000L
    h = Gen.mix(h)
    val street = Gen.Streets(java.lang.Long.remainderUnsigned(h, Gen.Streets.length).toInt)
    Gen.Row(key.toLong, cust, date, status, amount,
      s"${1 + java.lang.Long.remainderUnsigned(h >>> 8, 9999L)} $street", offset)
  }

  private def line(sb: java.lang.StringBuilder, key: Int, offset: Long, tomb: Boolean): Unit = {
    sb.append("{\"key\":\"{\\\"order_id\\\": ").append(key).append("}\",\"value\":")
    if (tomb) sb.append("null")
    else {
      val r = payload(key, offset)
      sb.append("\"{\\\"order_id\\\": ").append(key)
        .append(", \\\"customer_id\\\": ").append(r.customerId)
        .append(", \\\"order_date\\\": ").append(r.orderDate)
        .append(", \\\"status\\\": \\\"").append(r.status)
        .append("\\\", \\\"total_amount\\\": \\\"").append(r.totalAmount)
        .append("\\\", \\\"shipping_address\\\": \\\"").append(r.shippingAddress)
        .append("\\\"}\"")
    }
    // Kafka append time derived from the offset keeps the bytes seed-only
    val ts = Gen.TsFormat.format(java.time.Instant.ofEpochSecond(1767225600L + offset / 1000))
    sb.append(",\"topic\":\"dbserver1.ecommerce.orders\",\"partition\":0,\"offset\":")
      .append(offset).append(",\"timestamp\":\"").append(ts).append("\"}\n")
  }

  private def publish(sb: java.lang.StringBuilder, first: Long, n: Int): GenFile = {
    val name = f"f-$fileSeq%08d.json"
    fileSeq += 1
    val tmp = Paths.get(topicDir, s".$name.tmp")
    Files.write(tmp, sb.toString.getBytes(UTF_8))
    Files.move(tmp, Paths.get(topicDir, name), StandardCopyOption.ATOMIC_MOVE)
    val f = GenFile(name, first, n, System.currentTimeMillis().toDouble)
    files += f
    f
  }

  /** The initial snapshot (`snapshot.mode=initial`): inserts of keys
    * 1..n at offsets 0..n-1, spread over `nFiles` files. */
  def snapshot(n: Int, nFiles: Int): Unit = {
    val per = (n + nFiles - 1) / nFiles
    var k = 1
    while (k <= n) {
      val sb = new java.lang.StringBuilder(per * 200)
      val first = nextOffset
      var c = 0
      while (c < per && k <= n) {
        grow(k); line(sb, k, nextOffset, tomb = false)
        latest(k) = nextOffset; addLive(k)
        nextOffset += 1; k += 1; c += 1
      }
      maxKey = math.max(maxKey, k - 1)
      publish(sb, first, c)
    }
  }

  /** Write one file of `n` change events. Event i is stamped with due
    * time `due0 + i * step` (wall-clock ms) in the log, never in the file. */
  def emit(n: Int, due0: Double, step: Double): GenFile = {
    val sb = new java.lang.StringBuilder(n * 200)
    val first = nextOffset
    var i = 0
    while (i < n) {
      val u = rnd.nextDouble()
      val off = nextOffset
      if (u < 0.80 && nLive > 0) {
        val k = pickLive()
        line(sb, k, off, tomb = false); latest(k) = off; updates += 1
      } else if (u < 0.95 || nLive == 0) {
        val k =
          if (dead.nonEmpty && rnd.nextInt(4) == 0) {
            val j = rnd.nextInt(dead.size); val kk = dead(j)
            dead(j) = dead.last; dead.remove(dead.size - 1); kk
          } else { maxKey += 1; maxKey }
        grow(k); line(sb, k, off, tomb = false); latest(k) = off; addLive(k)
        inserts += 1
      } else {
        val k = pickLive()
        line(sb, k, off, tomb = true); removeLive(k); dead += k; tombstones += 1
      }
      stampDue(off, due0 + i * step)
      nextOffset += 1; i += 1
    }
    publish(sb, first, n)
  }

  private def stampDue(off: Long, ms: Double): Unit = {
    if (dueBase < 0) dueBase = off
    val i = (off - dueBase).toInt
    if (i >= dueMs.length) dueMs = java.util.Arrays.copyOf(dueMs, math.max(i + 1, dueMs.length * 2))
    dueMs(i) = ms
  }
  def due(off: Long): Double = dueMs((off - dueBase).toInt)
  def events: Long = updates + inserts + tombstones

  /** Model rows: the latest version of every live key. */
  def modelRows: Seq[Gen.Row] = liveKeys.map(k => payload(k, latest(k))).toSeq

  /** Corrupt the model for the self-test: one live key gets another
    * version's payload. */
  def plantWrongRow(): Int = {
    val k = liveArr(0); latest(k) = latest(k) + 1000003L; k
  }
}

object Gen {
  final case class Row(orderKey: Long, customerId: Int, orderDate: Long,
                       status: String, totalAmount: String,
                       shippingAddress: String, kafkaOffset: Long)
  val Customers = 15000L
  val Statuses: Array[String] = Array("pending", "processing", "shipped", "delivered", "cancelled")
  val Streets: Array[String] = Array("Main St", "Oak Ave", "Pine Rd", "Elm St", "Lake Dr",
    "Hill Rd", "Park Ave", "River Rd")
  val Segments: Array[String] = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val TsFormat: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}
