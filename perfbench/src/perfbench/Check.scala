package perfbench

import java.security.MessageDigest

/** Checks the benchmark computes on its own, apart from the program. */
object Check {

  /** Order-independent digest of a row multiset: the row count and the
    * wrapping sum of a 64-bit hash of each row's canonical text. */
  final case class Digest(rows: Long, sum: Long) {
    def +(h: Long): Digest = Digest(rows + 1, sum + h)
  }
  val Empty: Digest = Digest(0L, 0L)

  /** One cell's canonical text: integers as decimal, doubles in Java's
    * shortest round-trip form, strings verbatim, NULL as a marker no
    * text cell can hold. */
  def canon(v: Any): String = v match {
    case null => "\u0000null"
    case i: java.lang.Integer => i.longValue.toString
    case d: java.lang.Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  def hash64(s: String): Long = {
    val b = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(b).getLong
  }

  def rowHash(cells: Seq[Any]): Long = hash64(cells.map(canon).mkString("\u0001"))

  def digest(rows: Iterator[Seq[Any]]): Digest =
    rows.foldLeft(Empty)((d, r) => d + rowHash(r))

  /** Every table row through plain java.sql, in `cols` order. */
  def jdbcRows(url: String, table: String, cols: Seq[String]): Seq[Seq[Any]] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT ${cols.mkString(", ")} FROM $table")
      val md = rs.getMetaData
      val out = Seq.newBuilder[Seq[Any]]
      while (rs.next()) {
        out += (1 to cols.length).map { i =>
          val v: Any = md.getColumnType(i) match {
            case java.sql.Types.INTEGER | java.sql.Types.BIGINT =>
              java.lang.Long.valueOf(rs.getLong(i))
            case java.sql.Types.DOUBLE => java.lang.Double.valueOf(rs.getDouble(i))
            case _ => rs.getString(i)
          }
          if (rs.wasNull()) null else v
        }
      }
      out.result()
    } finally conn.close()
  }

  /** Split one `;`-separated line with excel-style quoting. */
  def csvFields(line: String, sep: Char = ';'): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0; var quoted = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') quoted = false
        else cur += c
      } else if (c == '"') quoted = true
      else if (c == sep) { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString
    out.result()
  }

  /** Lowercased whitespace tokens and their n-grams (joined by one
    * space) — the decontamination contract's tokenization. */
  def words(text: String): Array[String] =
    text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)

  def ngrams(text: String, n: Int): Iterator[String] =
    words(text).sliding(n).filter(_.length == n).map(_.mkString(" "))
}
