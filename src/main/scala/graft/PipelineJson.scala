package graft

import graft.ops._

/** JSON pipeline-config surface — the typed twin of the reference's
  * `operations` dict (`/root/reference/main.py:240-331`) with the same
  * validation semantics as `validate_operations`
  * (`/root/reference/pipeline.py:498-531`): unknown operation names and
  * illegal enum values fail fast with a message naming the offender.
  *
  * A user of the reference POSTs exactly this JSON shape; parsing it here
  * means the same config document drives this engine:
  * {{{
  * {"missing_values": {"enabled": true, "strategy": "fill_mean"},
  *  "outliers": {"enabled": true, "method": "iqr", "action": "cap",
  *               "threshold": 3.0},
  *  "duplicates": {"enabled": true},
  *  "data_type_conversion": {"enabled": true},
  *  "text_cleaning": {"enabled": true, "operations": ["lowercase"]},
  *  "datetime_parsing": {"enabled": true, "extract_features": true},
  *  "encoding": {"enabled": true, "method": "label", "columns": ["c"]},
  *  "normalization": {"enabled": true, "method": "minmax"},
  *  "spelling_correction": {"enabled": true, "method": "common_typos"}}
  * }}}
  *
  * The parser is a minimal recursive-descent JSON reader (no third-party
  * deps are resolvable in this build — build.sbt note). Any malformed
  * body fails with an `IllegalArgumentException` whose message ends with
  * the offset of the fault.
  */
object PipelineJson {

  // ---- tiny JSON model ---------------------------------------------------
  sealed trait J
  final case class JObj(fields: Map[String, J]) extends J
  final case class JArr(items: List[J]) extends J
  final case class JStr(s: String) extends J
  final case class JNum(d: Double) extends J
  final case class JBool(b: Boolean) extends J
  case object JNull extends J

  def parseJson(s: String): J = {
    val p = new Parser(s); val v = p.value(); p.skipWs()
    require(p.eof, s"trailing content at offset ${p.pos}")
    v
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1
    private def expect(c: Char): Unit = {
      skipWs()
      require(!eof && s.charAt(pos) == c, s"expected '$c' at $pos")
      pos += 1
    }
    def value(): J = {
      skipWs()
      require(!eof, s"unexpected end of input at $pos")
      s.charAt(pos) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => JStr(str())
        case 't' => lit("true", JBool(true))
        case 'f' => lit("false", JBool(false))
        case 'n' => lit("null", JNull)
        case _ => num()
      }
    }
    private def lit(word: String, v: J): J = {
      require(s.regionMatches(pos, word, 0, word.length), s"bad literal at $pos")
      pos += word.length; v
    }
    private def obj(): JObj = {
      expect('{'); skipWs()
      if (!eof && s.charAt(pos) == '}') { pos += 1; return JObj(Map.empty) }
      val b = Map.newBuilder[String, J]
      while (true) {
        skipWs(); val k = str(); expect(':'); b += (k -> value()); skipWs()
        require(!eof, s"unterminated object at $pos")
        s.charAt(pos) match {
          case ',' => pos += 1
          case '}' => pos += 1; return JObj(b.result())
          case c => throw new IllegalArgumentException(s"unexpected '$c' at $pos")
        }
      }
      JObj(Map.empty) // unreachable
    }
    private def arr(): JArr = {
      expect('['); skipWs()
      if (!eof && s.charAt(pos) == ']') { pos += 1; return JArr(Nil) }
      val b = List.newBuilder[J]
      while (true) {
        b += value(); skipWs()
        require(!eof, s"unterminated array at $pos")
        s.charAt(pos) match {
          case ',' => pos += 1
          case ']' => pos += 1; return JArr(b.result())
          case c => throw new IllegalArgumentException(s"unexpected '$c' at $pos")
        }
      }
      JArr(Nil) // unreachable
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (true) {
        require(!eof, s"unterminated string at $pos")
        val c = s.charAt(pos); pos += 1
        c match {
          case '"' => return sb.toString
          case '\\' =>
            require(!eof, s"unterminated escape at ${pos - 1}")
            val e = s.charAt(pos); pos += 1
            e match {
              case '"' => sb += '"'
              case '\\' => sb += '\\'
              case '/' => sb += '/'
              case 'n' => sb += '\n'
              case 't' => sb += '\t'
              case 'r' => sb += '\r'
              case 'b' => sb += '\b'
              case 'f' => sb += '\f'
              case 'u' =>
                val hex = s.slice(pos, pos + 4)
                require(hex.length == 4 && hex.forall(Character.digit(_, 16) >= 0),
                  s"bad unicode escape at ${pos - 2}")
                sb += Integer.parseInt(hex, 16).toChar
                pos += 4
              case other =>
                throw new IllegalArgumentException(s"bad escape \\$other at ${pos - 2}")
            }
          case other => sb += other
        }
      }
      "" // unreachable
    }
    private def num(): JNum = {
      val start = pos
      while (!eof && "+-0123456789.eE".indexOf(s.charAt(pos)) >= 0) pos += 1
      require(pos > start, s"unexpected '${s.charAt(start)}' at $start")
      s.substring(start, pos).toDoubleOption
        .map(JNum(_))
        .getOrElse(throw new IllegalArgumentException(s"bad number at $start"))
    }
  }

  // ---- config mapping ----------------------------------------------------

  /** Operation names the reference validates (`pipeline.py:504-509`). */
  val ValidOps: Set[String] = Set("missing_values", "outliers", "duplicates",
    "data_type_conversion", "text_cleaning", "datetime_parsing", "encoding",
    "normalization", "spelling_correction")
  val ValidMissing: Set[String] = Set("drop_rows", "drop_rows_threshold",
    "drop_columns", "drop_columns_threshold", "fill_mean", "fill_median",
    "fill_mode", "forward_fill", "backward_fill")
  val ValidOutlier: Set[String] =
    Set("iqr", "zscore", "modified_zscore", "isolation_forest")

  def parse(json: String): PipelineConfig = {
    val root = parseJson(json) match {
      case o: JObj => o
      case _ => throw new IllegalArgumentException("config must be a JSON object")
    }
    root.fields.keys.foreach { k =>
      require(ValidOps.contains(k), s"Invalid operation: $k")
    }
    // a stage runs only when enabled == true (the reference defaults to
    // False: `operations[op].get('enabled', False)`)
    def section(name: String): Option[JObj] = root.fields.get(name).collect {
      case o: JObj if o.fields.get("enabled").contains(JBool(true)) => o
    }
    def str(o: JObj, k: String): Option[String] =
      o.fields.get(k).collect { case JStr(v) => v }
    def numOf(o: JObj, k: String): Option[Double] =
      o.fields.get(k).collect { case JNum(v) => v }
    def boolOf(o: JObj, k: String): Option[Boolean] =
      o.fields.get(k).collect { case JBool(v) => v }
    def strs(o: JObj, k: String): Seq[String] =
      o.fields.get(k).collect {
        case JArr(xs) => xs.collect { case JStr(v) => v }
      }.getOrElse(Nil)

    PipelineConfig(
      typeConvert = section("data_type_conversion").map { o =>
        TypeConvert(auto = boolOf(o, "auto_detect").getOrElse(true))
      },
      textClean = section("text_cleaning").map { o =>
        TextClean(
          operations = {
            val ops = strs(o, "operations")
            if (ops.nonEmpty) ops else Seq("lowercase", "remove_extra_spaces")
          },
          columns = strs(o, "columns"))
      },
      datetimeParse = section("datetime_parsing").map { o =>
        DatetimeParse(columns = strs(o, "columns"),
          format = str(o, "format"),
          extractFeatures = boolOf(o, "extract_features").getOrElse(false))
      },
      missingValues = section("missing_values").map { o =>
        val strategy = str(o, "strategy").getOrElse("fill_mean")
        require(ValidMissing.contains(strategy),
          s"Invalid missing values strategy: $strategy")
        MissingValues(strategy,
          threshold = numOf(o, "threshold").getOrElse(0.5))
      },
      dedup = section("duplicates").isDefined,
      outliers = section("outliers").map { o =>
        val method = str(o, "method").getOrElse("iqr")
        require(ValidOutlier.contains(method),
          s"Invalid outlier method: $method")
        Outliers(method,
          action = str(o, "action").getOrElse("remove"),
          threshold = numOf(o, "threshold").getOrElse(3.0),
          columns = strs(o, "columns"))
      },
      typoFix = section("spelling_correction").map { o =>
        TypoFix(method = str(o, "method").getOrElse("common_typos"),
          columns = strs(o, "columns"),
          similarityThreshold = numOf(o, "threshold").getOrElse(0.8))
      },
      encode = section("encoding").map { o =>
        Encode(method = str(o, "method").getOrElse("label"),
          columns = strs(o, "columns"),
          dropFirst = boolOf(o, "drop_first").getOrElse(false))
      },
      normalize = section("normalization").map { o =>
        val range = o.fields.get("feature_range") match {
          case Some(JArr(List(JNum(a), JNum(b)))) => (a, b)
          case _ => (0.0, 1.0)
        }
        Normalize(method = str(o, "method").getOrElse("minmax"),
          featureRange = range, columns = strs(o, "columns"))
      })
  }
}
