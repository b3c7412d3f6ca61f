package graft.oracle

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.Arrays
import java.util.zip.{CRC32, Deflater, GZIPInputStream}

/** Result transport envelope — parity with the reference's
  * `Data{compressed, payload}` (proto/sum.proto:112-115): responses larger
  * than 2 KiB are gzip-compressed (node/service/service.go:20-23,
  * 106-124). Inside Spark, shuffle/result compression is native; this
  * envelope exists for the service-facing API surface.
  *
  * Wire contract: `compressed` is true iff the payload is over
  * [[GzipThreshold]] bytes, and a compressed payload is one standard gzip
  * member (RFC 1952), so stock `GZIPInputStream`, Go's `compress/gzip` and
  * [[open]] all decode it. [[open]] decodes any gzip member, including the
  * level-6 streams that `GZIPOutputStream` and Go's default writer produce
  * (older graft nodes and sumd nodes send those to a master).
  *
  * Encoder: raw deflate at `BEST_SPEED` with the `HUFFMAN_ONLY` strategy,
  * framed by hand (10-byte header, deflate blocks, CRC32 and ISIZE
  * little-endian). Huffman-only skips the LZ77 match search, so it cannot
  * use repetition; the payloads sum serves are float vectors,
  * similarities and sums, whose digits barely repeat. Compress time
  * (median, in process, JDK 17 on a 4-vCPU VM) and compressed/raw size:
  *
  * | payload                                 | Huffman-only   | level 1, reused | level 6, `GZIPOutputStream` |
  * |-----------------------------------------|----------------|-----------------|-----------------------------|
  * | findSimilar answer, 200 pairs, 5.1 KB   | 31 µs, 0.487   | 29 µs, 0.493    | 74 µs, 0.474                |
  * | 4000-entry `{"id":"rec-id"}` map, 70 KB | 402 µs, 0.478  | 259 µs, 0.274   | 1111 µs, 0.288              |
  * | 2000 id pairs, 23 KB                    | 131 µs, 0.462  | 184 µs, 0.465   | 895 µs, 0.421               |
  * | 100k zeros, 200 KB                      | 1104 µs, 0.189 | 197 µs, 0.005   | 429 µs, 0.001               |
  *
  * Huffman-only is faster than level 6 on every shape above except the
  * all-equal array. In a tight loop level 1 matches it on the findSimilar
  * answer, but served end to end Huffman-only was faster: `oracle_run`
  * p50 0.42-0.50 ms against 0.49-0.59 ms for level 1 in six alternating
  * pairs. The worst case is a 2^24-element zero array (the JS array cap,
  * 33.5 MB of JSON): 6.3 MB in about 200 ms, against 32.6 KB in 85 ms at
  * level 6, still under the 50 MiB gRPC message cap.
  *
  * Deflater life: each thread owns one `Deflater` from a `ThreadLocal` and
  * calls `reset()` before each use; none is shared between threads. `end()`
  * is never called: when an idle gRPC handler thread dies, the Deflater's
  * `Cleaner` frees its native state.
  */
object Payload {

  /** node/service/service.go:20 — gzip threshold in bytes. */
  val GzipThreshold: Int = 2048

  final case class Envelope(compressed: Boolean, payload: Array[Byte]) {
    def size: Int = payload.length
  }

  /** ID1 ID2 CM=deflate FLG=0, MTIME=0, XFL=0, OS=255 (unknown). */
  private val Header: Array[Byte] =
    Array(0x1f, 0x8b, 8, 0, 0, 0, 0, 0, 0, 0xff).map(_.toByte)
  /** CRC32 and ISIZE, 4 bytes each. */
  private val TrailerBytes = 8

  private val deflaters: ThreadLocal[Deflater] = ThreadLocal.withInitial { () =>
    val d = new Deflater(Deflater.BEST_SPEED, true)
    d.setStrategy(Deflater.HUFFMAN_ONLY)
    d
  }

  def build(data: Array[Byte]): Envelope =
    if (data.length > GzipThreshold) Envelope(compressed = true, gzip(data))
    else Envelope(compressed = false, data)

  def buildString(s: String): Envelope = build(s.getBytes(StandardCharsets.UTF_8))

  /** One gzip member of `data`. The buffer starts at half the input (the
    * served shapes compress to about 0.48) and doubles when full; the
    * result is trimmed with at most one copy.
    */
  private def gzip(data: Array[Byte]): Array[Byte] = {
    val d = deflaters.get()
    d.reset()
    d.setInput(data)
    d.finish()
    var out = Arrays.copyOf(Header, Header.length + data.length / 2 + 64)
    var n = Header.length
    while (!d.finished()) {
      if (n == out.length) out = Arrays.copyOf(out, out.length * 2)
      n += d.deflate(out, n, out.length - n)
    }
    val crc = new CRC32
    crc.update(data, 0, data.length)
    if (out.length != n + TrailerBytes) out = Arrays.copyOf(out, n + TrailerBytes)
    putIntLE(out, n, crc.getValue.toInt)
    putIntLE(out, n + 4, data.length)
    out
  }

  private def putIntLE(a: Array[Byte], at: Int, v: Int): Unit = {
    a(at) = v.toByte
    a(at + 1) = (v >>> 8).toByte
    a(at + 2) = (v >>> 16).toByte
    a(at + 3) = (v >>> 24).toByte
  }

  def open(e: Envelope): Array[Byte] =
    if (!e.compressed) e.payload
    else {
      val in = new GZIPInputStream(new ByteArrayInputStream(e.payload))
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    }

  def openString(e: Envelope): String =
    new String(open(e), StandardCharsets.UTF_8)
}
