package graft.bench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Output fingerprints: a later pass must give the first pass's rows. */
object Digest {
  /** Order-insensitive md5 over the rows' string forms. */
  def of(o: Output): String = {
    val md = MessageDigest.getInstance("MD5")
    o.rows.map(rowString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8"))
      md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def rowString(r: Row): String = r.toSeq.map {
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case v => String.valueOf(v)
  }.mkString("\u0001")

  def fileName(op: String): String = op.replaceAll("[^A-Za-z0-9_.-]", "_")
}
