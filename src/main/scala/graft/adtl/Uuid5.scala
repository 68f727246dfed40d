package graft.adtl

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.UUID

/** RFC 9562 §5.5 name-based UUIDv5 (SHA-1), public-spec implementation.
  * adtl derives a per-spec namespace as
  * uuid5(NAMESPACE_DNS, sha1_hex(canonical_json(header)))
  * (/root/reference/src/adtl/parser.py:357-361).
  */
object Uuid5 {
  val NamespaceDns: UUID = UUID.fromString("6ba7b810-9dad-11d1-80b4-00c04fd430c8")

  def uuid5(namespace: UUID, name: String): UUID = {
    val md = MessageDigest.getInstance("SHA-1")
    md.update(toBytes(namespace))
    md.update(name.getBytes(StandardCharsets.UTF_8))
    val h = md.digest()
    h(6) = ((h(6) & 0x0f) | 0x50).toByte // version 5
    h(8) = ((h(8) & 0x3f) | 0x80).toByte // RFC 4122 variant
    fromBytes(h)
  }

  /** uuid5 of `name` under the namespace (hi, lo), as text: the static
    * entry [[Uuid5Expr]] calls from interpreted and generated code. */
  def uuid5String(hi: Long, lo: Long, name: String): String =
    uuid5(new UUID(hi, lo), name).toString

  def sha1Hex(s: String): String =
    MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  def namespaceFromHeader(header: Map[String, Any]): UUID =
    uuid5(NamespaceDns, sha1Hex(SpecLoader.canonicalJson(header)))

  private def toBytes(u: UUID): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16)
    bb.putLong(u.getMostSignificantBits)
    bb.putLong(u.getLeastSignificantBits)
    bb.array()
  }

  private def fromBytes(b: Array[Byte]): UUID = {
    val bb = java.nio.ByteBuffer.wrap(b, 0, 16)
    new UUID(bb.getLong, bb.getLong)
  }
}
