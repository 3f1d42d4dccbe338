package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** Static gzip helpers referenced from both interpreted eval and generated
  * code (the codegen path calls these by fully-qualified name, so keep them
  * on a plain object with JVM-static forwarders).
  *
  * Semantics follow the reference pipeline's documented "gzipped JSON ...
  * supported" behavior (/root/reference/README.md:10): sniff the gzip magic
  * bytes per value, inflate when present, pass through otherwise. A corrupt
  * gzip stream yields null (the record is dropped downstream, mirroring the
  * reference's silent-drop of undecodable payloads).
  */
object GzipUtil {
  def isGzip(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 2 &&
      (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b

  /** Inflate if gzip-compressed, else return the input unchanged; null on a
    * corrupt stream.
    */
  def maybeGunzip(bytes: Array[Byte]): Array[Byte] = {
    if (bytes == null) return null
    if (!isGzip(bytes)) return bytes
    try {
      val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
      val out = new ByteArrayOutputStream(bytes.length * 4)
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close()
      out.toByteArray
    } catch { case _: java.io.IOException => null }
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new GZIPOutputStream(out)
    gz.write(bytes)
    gz.close()
    out.toByteArray
  }

  /** DEFLATE-compressed length of the input (zlib level 6, raw deflate —
    * no gzip header/CRC, so the number is pure entropy signal). Backs the
    * compression-ratio quality score: boilerplate/repetitive text
    * compresses far below fluent prose, random noise not at all.
    * Deterministic for a fixed zlib (the JDK bundles one); per-value
    * Deflater construction keeps the expression thread-safe inside
    * whole-stage codegen.
    */
  def deflateLen(bytes: Array[Byte]): Long = {
    val d = new java.util.zip.Deflater(6, true)
    d.setInput(bytes)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    d.end()
    total
  }

  def deflateLen(s: org.apache.spark.unsafe.types.UTF8String): Long = deflateLen(s.getBytes)
}
