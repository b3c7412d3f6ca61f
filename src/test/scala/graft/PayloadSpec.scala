package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.zip.{CRC32, Deflater, GZIPInputStream, GZIPOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.oracle.Payload

/** The Run result envelope on the wire: `compressed` iff over 2 KiB, and a
  * compressed payload is one standard gzip member that stock decoders read.
  */
class PayloadSpec extends AnyFunSuite {

  private def gunzip(b: Array[Byte]): Array[Byte] =
    new GZIPInputStream(new ByteArrayInputStream(b)).readAllBytes()

  private def intLE(a: Array[Byte], at: Int): Int =
    (a(at) & 0xff) | (a(at + 1) & 0xff) << 8 | (a(at + 2) & 0xff) << 16 |
      (a(at + 3) & 0xff) << 24

  /** Round-trips `s` through `openString` and a stock `GZIPInputStream`,
    * and checks the gzip frame of a compressed payload.
    */
  private def pin(s: String): Unit = {
    val raw = s.getBytes(UTF_8)
    val e = Payload.buildString(s)
    assert(e.compressed === raw.length > Payload.GzipThreshold)
    assert(Payload.openString(e) == s, s"openString, ${raw.length} bytes")
    if (!e.compressed) assert(e.payload.sameElements(raw))
    else {
      assert(java.util.Arrays.equals(gunzip(e.payload), raw),
        s"GZIPInputStream, ${raw.length} bytes")
      assert(e.payload.take(3).toSeq === Seq(0x1f, 0x8b, 8).map(_.toByte))
      val crc = new CRC32
      crc.update(raw)
      assert(intLE(e.payload, e.size - 8) === crc.getValue.toInt)
      assert(intLE(e.payload, e.size - 4) === raw.length)
    }
  }

  private def digits(n: Int, seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    val sb = new StringBuilder(n)
    while (sb.length < n) sb.append(rnd.nextFloat()).append(',')
    sb.setLength(n)
    sb.toString
  }

  /** A findSimilar answer as the benchmark gets it: about 200
    * `"id":similarity` pairs.
    */
  private def findSimilarAnswer(seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    (1 to 200).map(_ => s""""${rnd.nextInt(4000)}":${0.75 + rnd.nextDouble() / 4}""")
      .mkString("{", ",", "}")
  }

  test("envelope sizes, unicode, a 1 MB digit string and a findSimilar answer round-trip") {
    pin("")
    pin("a" * 2048)
    pin("a" * 2049)
    pin("ñandú → 数据 🚀 " * 300)
    pin(digits(1 << 20, 7))
    // printable ASCII compresses to over half its size, so the output
    // buffer grows and deflate runs more than once
    val rnd = new scala.util.Random(5)
    pin(Seq.fill(1 << 20)((32 + rnd.nextInt(95)).toChar).mkString)
    val answer = findSimilarAnswer(3)
    assert(answer.length > Payload.GzipThreshold)
    pin(answer)
  }

  test("open decodes a level-6 GZIPOutputStream stream and a gzip member with FNAME") {
    val raw = digits(10000, 11).getBytes(UTF_8)
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    assert(java.util.Arrays.equals(
      Payload.open(Payload.Envelope(compressed = true, bos.toByteArray)), raw))

    // Go's gzip.Writer with Header.Name set: FLG.FNAME, then the
    // zero-terminated name before the deflate blocks
    val d = new Deflater(6, true)
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length * 2)
    val n = d.deflate(buf)
    d.end()
    val crc = new CRC32
    crc.update(raw)
    val member = new ByteArrayOutputStream()
    member.write(Array(0x1f, 0x8b, 8, 0x08, 0, 0, 0, 0, 0, 0xff).map(_.toByte))
    member.write("answer.json\u0000".getBytes(UTF_8))
    member.write(buf, 0, n)
    for (v <- Seq(crc.getValue.toInt, raw.length); k <- 0 until 4)
      member.write(v >>> (8 * k))
    assert(java.util.Arrays.equals(
      Payload.open(Payload.Envelope(compressed = true, member.toByteArray)), raw))
  }

  test("4 threads build 200 different payloads each at the same time") {
    val pool = Executors.newFixedThreadPool(4)
    try {
      val jobs = (0 until 4).map { t =>
        pool.submit(new Callable[Int] {
          def call(): Int = (0 until 200).count { i =>
            val s = if (i % 2 == 0) findSimilarAnswer(t * 1000L + i)
                    else digits(1500 + 37 * i, t * 1000L + i)
            val e = Payload.buildString(s)
            e.compressed == (s.length > Payload.GzipThreshold) &&
              Payload.openString(e) == s &&
              (!e.compressed || new String(gunzip(e.payload), UTF_8) == s)
          }
        })
      }
      assert(jobs.map(_.get(120, TimeUnit.SECONDS)) === Seq.fill(4)(200))
    } finally pool.shutdownNow()
  }

  test("the 2^24-element zero array, the JS array cap, fits the 50 MiB gRPC cap") {
    val n = 1 << 24
    val sb = new StringBuilder(2 * n + 1)
    sb.append('[')
    var i = 0
    while (i < n) { if (i > 0) sb.append(','); sb.append('0'); i += 1 }
    sb.append(']')
    val raw = sb.toString.getBytes(UTF_8)
    sb.clear()
    val e = Payload.build(raw)
    assert(e.compressed)
    assert(e.size < 50 * 1024 * 1024) // SumGrpcServer.MaxMessageBytes
    assert(java.util.Arrays.equals(Payload.open(e), raw))
  }
}
