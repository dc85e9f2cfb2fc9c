package graft.streaming

/** InfluxDB line protocol parser (public wire format:
  * `measurement,tag=v field=1.5,s="x",n=2i,b=t <ts-nanos>`), the ingest
  * format the reference speaks over TCP/UDP/HTTP
  * (`cutlass/line/tcp/LineTcpParser.java` — behavior only; clean-room
  * implementation of the published protocol).
  *
  * Pure Scala, allocation-light. [[IlpApply]] runs it on the driver over
  * a batch that is already there; the streaming TCP pipeline
  * ([[Ingest.parseIlp]]) maps it over `Dataset[String]` partitions on the
  * executors.
  */
object IlpParser {
  sealed trait FieldValue
  final case class F64(v: Double) extends FieldValue
  final case class I64(v: Long) extends FieldValue
  final case class Bool(v: Boolean) extends FieldValue
  final case class Str(v: String) extends FieldValue

  final case class Point(
      measurement: String,
      tags: Map[String, String],
      fields: Map[String, FieldValue],
      tsNanos: Option[Long])

  /** Parse one line; None for blank/comment/malformed lines (malformed
    * input must never kill an ingest job — bad lines are routed to a
    * dead-letter count by the caller).
    */
  def parse(line: String): Option[Point] = {
    val s = line.trim
    if (s.isEmpty || s.startsWith("#")) return None
    try {
      var i = 0
      val n = s.length

      def readUntil(stops: Set[Char], inQuotes: Boolean = false): String = {
        val sb = new StringBuilder
        var quoted = false
        while (i < n && (quoted || !stops.contains(s.charAt(i)))) {
          val c = s.charAt(i)
          if (c == '\\' && i + 1 < n) { sb.append(s.charAt(i + 1)); i += 2 }
          else if (inQuotes && c == '"') { quoted = !quoted; sb.append(c); i += 1 }
          else { sb.append(c); i += 1 }
        }
        sb.toString
      }

      val measurement = readUntil(Set(',', ' '))
      if (measurement.isEmpty) return None

      var tags = Map.empty[String, String]
      while (i < n && s.charAt(i) == ',') {
        i += 1
        val k = readUntil(Set('='))
        i += 1 // '='
        val v = readUntil(Set(',', ' '))
        tags += (k -> v)
      }
      if (i >= n || s.charAt(i) != ' ') return None
      i += 1 // ' '

      var fields = Map.empty[String, FieldValue]
      var more = true
      while (more) {
        val k = readUntil(Set('='))
        i += 1 // '='
        val v: FieldValue =
          if (i < n && s.charAt(i) == '"') {
            i += 1
            val sb = new StringBuilder
            while (i < n && s.charAt(i) != '"') {
              val c = s.charAt(i)
              if (c == '\\' && i + 1 < n) { sb.append(s.charAt(i + 1)); i += 2 }
              else { sb.append(c); i += 1 }
            }
            i += 1 // closing quote
            Str(sb.toString)
          } else {
            val raw = readUntil(Set(',', ' '))
            if (raw.endsWith("i")) I64(raw.dropRight(1).toLong)
            else if (raw == "t" || raw == "T" || raw == "true" || raw == "True") Bool(true)
            else if (raw == "f" || raw == "F" || raw == "false" || raw == "False") Bool(false)
            else F64(raw.toDouble)
          }
        fields += (k -> v)
        if (i < n && s.charAt(i) == ',') i += 1 else more = false
      }
      if (fields.isEmpty) return None

      val ts =
        if (i < n && s.charAt(i) == ' ') {
          val t = s.substring(i + 1).trim
          if (t.isEmpty) None else Some(t.toLong)
        } else None
      Some(Point(measurement, tags, fields, ts))
    } catch {
      case _: NumberFormatException | _: StringIndexOutOfBoundsException => None
    }
  }
}
