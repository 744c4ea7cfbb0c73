package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.sources.kafka.KafkaWireClient

/** The benchmark's input generator. It is seeded and self-contained:
  * the program under test only ever sees what this object produces — a
  * Kafka topic on the in-process broker, parquet frame files, or a
  * document view. Messages are encoded here with a hand-written proto3
  * writer, so the engine's own encoder never touches the inputs.
  *
  * Message `i` of a seed is a pure function of (seed, i, event time):
  * re-running a seed reproduces every byte.
  */
object Gen {

  /** Confluent-style 6-byte prefix the reference's producers put in front
    * of every payload (`BidPipeline.Config.stripConfluentPrefix`). */
  private val Prefix = Array[Byte](0, 0, 0, 0, 0, 42)

  private val PubIds = Array("view", "click", "purchase", "signup", "error")
  val Deals = 64
  val Users = 2000

  /** Minimal proto3 writer for the fields the generator emits. */
  private final class Pb {
    private var buf = new Array[Byte](192)
    private var n = 0
    private def ensure(k: Int): Unit =
      if (n + k > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + k))
    def raw(b: Int): Unit = { ensure(1); buf(n) = b.toByte; n += 1 }
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0L) { raw(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      raw(v.toInt)
    }
    def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def bytes(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); varint(b.length.toLong); ensure(b.length)
      System.arraycopy(b, 0, buf, n, b.length); n += b.length
    }
    def str(field: Int, s: String): Unit = bytes(field, s.getBytes(UTF_8))
    def int(field: Int, v: Long): Unit = { tag(field, 0); varint(v) }
    def float(field: Int, f: Float): Unit = {
      tag(field, 5)
      val b = java.lang.Float.floatToIntBits(f)
      raw(b); raw(b >>> 8); raw(b >>> 16); raw(b >>> 24)
    }
    def msg(field: Int)(body: Pb => Unit): Unit = {
      val inner = new Pb; body(inner); bytes(field, inner.result)
    }
    def result: Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  /** Framed Bidrequest for message `i` with event time `eventMs`: the
    * 6-byte prefix followed by the proto3 payload (OpenRTB field numbers
    * of `BidRequestSchema`). The id is `i` in decimal, so a check can
    * tell lost and duplicated messages apart. */
  def bid(seed: Long, i: Long, eventMs: Long): Array[Byte] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
    val user = r.nextInt(Users)
    val value = r.nextDouble() * 150.0
    val banner = value >= 50.0
    val w = (if (banner) value.toInt + 1 else value.toInt + 2)
    val h = (user % 5 + 1) * 100 + (if (banner) 0 else 1)
    val nDeals = r.nextInt(3)
    val pb = new Pb
    pb.str(1, i.toString)
    pb.msg(2) { imp =>
      if (banner) imp.msg(3) { b => b.int(2, w.toLong); b.int(3, h.toLong) }
      else imp.msg(4) { v => v.int(5, w.toLong); v.int(6, h.toLong) }
      imp.msg(7) { pmp =>
        for (d <- 0 until nDeals) pmp.msg(2) { deal =>
          deal.str(1, s"deal_${r.nextInt(Deals)}")
          deal.float(2, 0.5f * (d + 1))
        }
      }
      imp.float(12, 1.5f)
    }
    pb.msg(3) { site =>
      site.str(1, s"site_${user % 20}")
      site.msg(12)(_.str(1, PubIds(r.nextInt(PubIds.length))))
    }
    pb.msg(5)(_.str(24, s"ifa_${r.nextInt(7)}"))
    pb.msg(6)(_.str(1, if (user % 4 == 0) "" else s"u$user"))
    pb.msg(20) { ts =>
      ts.int(1, Math.floorDiv(eventMs, 1000L))
      ts.int(2, Math.floorMod(eventMs, 1000L) * 1000000L)
    }
    Prefix ++ pb.result
  }

  /** An hour-aligned epoch base in 2024, picked by the seed. */
  def baseHourMs(seed: Long): Long = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    1704067200000L + r.nextInt(300 * 24).toLong * 3600000L
  }

  /** Event time of message `i` of `n`, spread evenly over `hours` hours
    * starting at `base` (never past their end), with seeded jitter. */
  def eventMs(seed: Long, base: Long, hours: Int, i: Long, n: Long): Long = {
    val r = new SplittableRandom(seed * 31 + i)
    math.min(base + (i * hours * 3600000L) / n + r.nextInt(1000),
      base + hours * 3600000L - 1L)
  }

  /** Pre-produce `msgs` (payload, CreateTime) into `topic`: message `i`
    * goes to partition `i % partitions`, one connection and thread per
    * partition (at most `threads` threads). */
  def produceBacklog(servers: String, topic: String, partitions: Int, threads: Int,
                     msgs: IndexedSeq[(Array[Byte], Long)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(threads, partitions)))
    try {
      val futures = (0 until partitions).map { p =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val c = client(servers)
            try (p until msgs.size by partitions).grouped(2000).foreach { chunk =>
              c.produce(topic, p, chunk.map { i =>
                (msgs(i)._2, null: Array[Byte], msgs(i)._1) })
            } finally c.close()
          }
        })
      }
      futures.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    }
  }

  def client(servers: String): KafkaWireClient = {
    val Array(host, port) = servers.split(":")
    new KafkaWireClient(host, port.toInt, clientId = "perfbench-gen")
  }

  // ---- documents for the crawl gate ---------------------------------------

  private val Vocab = Array(
    "spark", "stream", "batch", "kafka", "parquet", "index", "shingle",
    "band", "hash", "window", "merge", "commit", "table", "query", "plan",
    "scan", "filter", "join", "group", "sort", "vector", "row", "column",
    "partition", "offset", "broker", "topic", "record", "decode", "encode",
    "schema", "field", "value", "key", "fast", "slow", "big", "small",
    "data", "crawl", "page", "site", "link", "text", "token", "dedup",
    "near", "copy", "passage", "gate", "admit", "land", "corpus", "layer")

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(r.nextInt(Vocab.length)))

  /** `n` documents with ids `[from, from + n)`. About a fifth are near
    * copies of a document in `sources` (a few words replaced) and about a
    * tenth embed a long passage copied from one, so both gates reject
    * some of every crawl batch. */
  def documents(seed: Long, from: Long, n: Int,
                sources: IndexedSeq[(Long, String)]): IndexedSeq[(Long, String)] =
    (0 until n).map { k =>
      val id = from + k
      val r = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + id)
      val roll = r.nextInt(100)
      val text =
        if (sources.nonEmpty && roll < 20) {
          val src = sources(r.nextInt(sources.size))._2.split(' ')
          for (_ <- 0 until 1 + r.nextInt(2))
            src(r.nextInt(src.length)) = Vocab(r.nextInt(Vocab.length))
          src.mkString(" ")
        } else if (sources.nonEmpty && roll < 30) {
          val src = sources(r.nextInt(sources.size))._2.split(' ')
          val len = math.min(src.length, 24)
          val at = r.nextInt(src.length - len + 1)
          (words(r, 10 + r.nextInt(20)) ++ src.slice(at, at + len) ++
            words(r, 10 + r.nextInt(20))).mkString(" ")
        } else words(r, 20 + r.nextInt(60)).mkString(" ")
      (id, text)
    }
}
