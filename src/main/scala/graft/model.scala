package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical log data model + the syslog "topics" parser, as one native
  * codegen'd expression (no UDF); the RFC decode below is Catalyst column
  * expressions.
  *
  * Semantics derived from the reference parser
  * `/root/reference/lib/lopParse.go:29-81` (see SURVEY.md §1.4):
  *   - split raw at FIRST space → catStr + message;
  *   - catStr split on ',' → topics; severity token is topics[1];
  *   - categories = topics[0] ++ topics[2:], plus the unknown severity
  *     token appended LAST when unrecognized (lopParse.go:69-71);
  *   - fallback (fewer than 2 comma-tokens): severity=Info(6),
  *     categories=["unknown"], message=whole raw line (lopParse.go:34-42);
  *   - engine-defined FIX: inputs with no space (reference PANICS,
  *     lopParse.go:33 indexes before the :34 guard) route to the fallback.
  */
object model {

  /** canonical log schema (SURVEY.md §1.1; lib/lopParse.go:21-27) */
  val logSchema: StructType = StructType(Seq(
    StructField("timestamp", TimestampType, nullable = false),
    StructField("device", StringType, nullable = false),
    StructField("severity", ByteType, nullable = false),
    StructField("categories", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("message", StringType, nullable = false)))

  /** severity token → RFC-5424 code (lib/lopParse.go:51-72) */
  val severityTokens: Seq[(String, Int)] = Seq(
    "fatal" -> 0, "emergency" -> 0, "alert" -> 1, "critical" -> 2,
    "error" -> 3, "warning" -> 4, "notice" -> 5, "info" -> 6,
    "debug" -> 7, "packet" -> 7, "raw" -> 7)

  val knownTokens: Seq[String] = severityTokens.map(_._1)

  /** CASE chain: token → code, unknown → 6 (Info) */
  def severityCode(tok: Column): Column =
    severityTokens.foldRight(lit(6)) { case ((t, code), rest) =>
      when(tok === t, lit(code)).otherwise(rest)
    }.cast(ByteType)

  def severityKnown(tok: Column): Column = tok.isin(knownTokens: _*)

  /** full parse: raw line → struct(severity, categories, message), one
    * native [[graft.functions.SyslogParse]] node (a single static call in
    * generated code, the table above as its severity lookup). Total on
    * every input, including the no-space lines the reference panics on; a
    * null line gives (6, null, ""). Needs no session or registration. */
  def parseSyslog(raw: Column): Column =
    org.apache.spark.sql.graftshim.ExpressionColumn.unary(raw)(graft.functions.SyslogParse(_))

  // ---- real-syslog header decode (RFC 5424 / RFC 3164) -----------------
  // The reference README claims RFC 5424 (README.md:60) but parses only
  // the MikroTik topics format; its own example line
  // `<166>1 2023-10-27T10:00:00+00:00 …` (README.md:121) lands whole in
  // `message` via the fallback. This decode is what a real syslog fleet
  // needs: <PRI> → facility×severity, header timestamp/hostname/app
  // extraction for both RFC shapes, with the topics parse preserved as
  // the fallback for MikroTik-style lines. Pure column expressions.

  /** U+FEFF — RFC 5424 §6.4's UTF-8 MSG marker (as an escape so the
    * source carries no invisible characters) */
  val Bom: String = "\uFEFF"

  /** `<PRI>VERSION TS HOST APP PROCID MSGID REST` — REST is structured
    * data + optional message, split downstream */
  val rfc5424Re: String =
    "^<(\\d{1,3})>([1-9]\\d{0,2}) (\\S+) (\\S+) (\\S+) (\\S+) (\\S+) ?(.*)$"
  /** `<PRI>MMM dd HH:mm:ss HOST MSG` — RFC 3164 stamps the day space-
    * padded (`Oct  7`); unpadded single digits are out of spec and fall
    * through to the pri-only branch */
  val rfc3164Re: String =
    "^<(\\d{1,3})>([A-Z][a-z]{2} [ 0-9]\\d \\d{2}:\\d{2}:\\d{2}) (\\S+) ?(.*)$"
  /** leading structured-data run: one or more [...] blocks. Block
    * content admits the RFC 5424 §6.3.3 escape sequences — a `\]`
    * inside a PARAM-VALUE does not close the block (`[^\]\\]|\\.`:
    * any char that is neither `]` nor `\`, or a backslash + one
    * escaped char). */
  val rfc5424SdRe: String = "^((?:\\[(?:[^\\]\\\\]|\\\\.)*\\])+)"

  /** one SD-ELEMENT's content (between the brackets), escape-aware like
    * [[rfc5424SdRe]] — shared by the Spark decode and the DuckDB twin */
  val sdBlockRe: String = "\\[((?:[^\\]\\\\]|\\\\.)*)\\]"

  /** Full RFC decode: raw line → struct(format, facility, severity,
    * version, ts_text, ts_us, hostname, appname, procid, msgid, sd,
    * message). Branches:
    *  - `rfc5424`: PRI ≤ 191 and a version digit — all 6 header fields
    *    plus SD/message split (NILVALUE `-` kept verbatim in the text
    *    fields; ts_us parses RFC 3339 incl. fraction and offset, null on
    *    NIL);
    *  - `rfc3164`: PRI ≤ 191 and the BSD `MMM dd HH:mm:ss` stamp — the
    *    year-less text is kept as ts_text (no ts_us: RFC 3164 carries no
    *    year, inventing one would be a lie);
    *  - `pri`: a valid PRI but neither shape — facility/severity decode
    *    still applies, the rest is the message;
    *  - `topics`: no PRI (or PRI > 191, which RFC 5424 §6.2.1 forbids) —
    *    the MikroTik topics parse ([[parseSyslog]]) supplies severity
    *    and message; facility/header fields are null.
    * Total: never throws on any input (try-parses, nullif-guarded
    * extraction). */
  def parseRfc(raw: Column): Column = {
    val priTxt = nullif(regexp_extract(raw, "^<(\\d{1,3})>", 1), lit(""))
    val pri = priTxt.cast(IntegerType)
    val priOk = pri.isNotNull && pri <= 191
    val is5424 = priOk && raw.rlike(rfc5424Re)
    val is3164 = priOk && !is5424 && raw.rlike(rfc3164Re)
    val isPri = priOk && !is5424 && !is3164
    // 5424 fields
    val ts5 = nullif(regexp_extract(raw, rfc5424Re, 3), lit(""))
    val rest = regexp_extract(raw, rfc5424Re, 8)
    val sdBr = regexp_extract(rest, rfc5424SdRe, 1)
    // RFC 5424 §6.4: a UTF-8 MSG MUST start with the BOM — it marks the
    // encoding, it isn't content. Strip exactly one leading U+FEFF after
    // the SD/NIL split (the decode is already UTF-8 end to end).
    val msg5raw = when(rest === "-", lit(""))
      .when(rest.startsWith("- "), substring(rest, 3, Int.MaxValue))
      .when(sdBr =!= "", ltrim(substring(rest, length(sdBr) + 1, lit(Int.MaxValue))))
      .otherwise(rest)
    val msg5 = when(msg5raw.startsWith(Bom),
      substring(msg5raw, 2, Int.MaxValue)).otherwise(msg5raw)
    val sd5 = when(rest === "-" || rest.startsWith("- "), lit("-"))
      .when(sdBr =!= "", sdBr)
      .otherwise(lit(null).cast(StringType))
    // topics fallback
    val tp = parseSyslog(raw)
    val nullStr = lit(null).cast(StringType)
    struct(
      when(is5424, lit("rfc5424")).when(is3164, lit("rfc3164"))
        .when(isPri, lit("pri")).otherwise(lit("topics")).as("format"),
      when(priOk, (pri / 8).cast(ByteType))
        .otherwise(lit(null).cast(ByteType)).as("facility"),
      when(priOk, pmod(pri, lit(8)).cast(ByteType))
        .otherwise(tp.getField("severity")).as("severity"),
      when(is5424, regexp_extract(raw, rfc5424Re, 2).cast(IntegerType))
        .otherwise(lit(null).cast(IntegerType)).as("version"),
      when(is5424, ts5)
        .when(is3164, regexp_extract(raw, rfc3164Re, 2))
        .otherwise(nullStr).as("ts_text"),
      when(is5424, unix_micros(try_to_timestamp(ts5)))
        .otherwise(lit(null).cast(LongType)).as("ts_us"),
      when(is5424, regexp_extract(raw, rfc5424Re, 4))
        .when(is3164, regexp_extract(raw, rfc3164Re, 3))
        .otherwise(nullStr).as("hostname"),
      when(is5424, regexp_extract(raw, rfc5424Re, 5)).otherwise(nullStr).as("appname"),
      when(is5424, regexp_extract(raw, rfc5424Re, 6)).otherwise(nullStr).as("procid"),
      when(is5424, regexp_extract(raw, rfc5424Re, 7)).otherwise(nullStr).as("msgid"),
      when(is5424, sd5).otherwise(nullStr).as("sd"),
      when(is5424, msg5)
        .when(is3164, regexp_extract(raw, rfc3164Re, 4))
        .when(isPri, regexp_replace(raw, "^<\\d{1,3}>", ""))
        .otherwise(tp.getField("message")).as("message"))
  }

  /** one SD param inside a block: `NAME="VALUE"` — SD-NAMEs carry no
    * space/=/]/" (RFC 5424 §6.3.3); values are quoted, MAY contain
    * spaces, and admit the §6.3.3 escapes (`\"` does not close the
    * value: `[^"\\]|\\.`). The raw captured value still carries the
    * backslashes — [[sdUnescape]] is the decode step. */
  val sdParamRe: String = "([^ =\\]\"]+)=\"((?:[^\"\\\\]|\\\\.)*)\""

  /** RFC 5424 §6.3.3 PARAM-VALUE unescape: `\"` `\]` `\\` → `"` `]`
    * `\`. Producers MUST escape exactly those three characters; a
    * backslash before any OTHER character is passed through untouched
    * (the RFC instructs receivers to leave unrecognized sequences
    * as-is, so `\d` stays `\d`). */
  def sdUnescape(v: Column): Column =
    regexp_replace(v, "\\\\([\"\\]\\\\])", "$1")

  /** DuckDB twin of [[sdUnescape]] over SQL expression `e` (RE2: same
    * pattern, `\1` back-reference, global flag) */
  def sdUnescapeSql(e: String): String =
    s"""regexp_replace($e, '\\\\(["\\]\\\\])', '\\1', 'g')"""

  /** RFC 5424 §6.3 structured-data decode: the raw `sd` bracket blob
    * ([[parseRfc]]'s `sd` field) → `MAP(sd_id → MAP(param → value))`.
    * NIL (`-`) and null → null; a block with no params → empty inner
    * map. Pure column expressions (`regexp_extract_all` + `transform` +
    * `map_from_*`) — stays in codegen next to the header decode.
    * SD-IDs are unique per message by RFC 5424 §6.3.2 ("the same SD-ID
    * MUST NOT exist more than once"); a violating input would surface
    * as Spark's duplicate-map-key error rather than silently dropping
    * a block. A repeated PARAM-NAME inside one block, however, IS
    * conformant (§6.3.2's own example: `[origin ip=".." ip=".."]`) —
    * the map cell keeps the LAST occurrence (map keys can't repeat;
    * [[sdParamRows]] is the lossless view that keeps every
    * occurrence). Values arrive §6.3.3-unescaped. */
  def parseSdParams(sd: Column): Column = {
    val blocks = regexp_extract_all(sd, lit(sdBlockRe), lit(1))
    val entries = transform(blocks, b => {
      val names = regexp_extract_all(b, lit(sdParamRe), lit(1))
      val kvs = zip_with(
        names,
        transform(regexp_extract_all(b, lit(sdParamRe), lit(2)), sdUnescape(_)),
        (n, v) => struct(n.as("key"), v.as("value")))
      // keep-last: drop entry i when the same name appears again after
      // position i (slice is 1-based: elements i+2 .. end)
      val lastWins = filter(kvs, (e, i) =>
        !exists(slice(names, i + lit(2), size(names)),
          n => n === e.getField("key")))
      struct(
        substring_index(b, " ", 1).as("key"),
        map_from_entries(lastWins).as("value"))
    })
    when(sd.isNull || sd === "-",
        lit(null).cast(MapType(StringType, MapType(StringType, StringType))))
      .otherwise(map_from_entries(entries))
  }

  /** [[parseSdParams]] flattened to one row per (sd_id, param) — the
    * hashable/relational view (map cells don't hash). Unlike the map
    * API this view is LOSSLESS for repeated PARAM-NAMEs: each
    * occurrence is its own row (zipped-array explode, no intermediate
    * map that would dedup or throw). Values §6.3.3-unescaped. */
  def sdParamRows(df: DataFrame, sdCol: String): DataFrame = {
    val blocks = regexp_extract_all(col(sdCol), lit(sdBlockRe), lit(1))
    val kvs = zip_with(
      regexp_extract_all(col("blk"), lit(sdParamRe), lit(1)),
      regexp_extract_all(col("blk"), lit(sdParamRe), lit(2)),
      (n, v) => struct(n.as("param"), v.as("value")))
    df.where(col(sdCol).isNotNull && col(sdCol) =!= "-")
      .select(col("*"), explode(blocks).as("blk"))
      .select(col("*"), substring_index(col("blk"), " ", 1).as("sd_id"),
        explode(kvs).as("kv"))
      .select(col("*"), col("kv.param").as("param"),
        sdUnescape(col("kv.value")).as("value"))
      .drop("blk", "kv")
  }

  val monthTokens: Seq[(String, Int)] = Seq("Jan" -> 1, "Feb" -> 2,
    "Mar" -> 3, "Apr" -> 4, "May" -> 5, "Jun" -> 6, "Jul" -> 7,
    "Aug" -> 8, "Sep" -> 9, "Oct" -> 10, "Nov" -> 11, "Dec" -> 12)

  /** pieces of the 3164 stamp — shared by the Spark and DuckDB twins */
  val rfc3164TsRe: String = "^([A-Z][a-z]{2}) +(\\d{1,2}) (\\d{2}):(\\d{2}):(\\d{2})$"

  /** RFC 3164 timestamp materialization: the year-less BSD stamp
    * ([[parseRfc]]'s `ts_text`) + an anchor timestamp (ingest time) →
    * epoch micros. [[parseRfc]] itself deliberately leaves 3164 `ts_us`
    * null (the wire carries no year; inventing one silently would be a
    * lie) — this is the EXPLICIT, documented deviation every production
    * syslog pipeline makes so 3164 rows can join the time-bucketed
    * queries: year = anchor year, with the standard Dec/Jan rollover
    * rule (a Dec stamp ingested in Jan is last year's; a Jan stamp
    * ingested in Dec is next year's — clock-skew across the boundary).
    * Feb 29 under a non-leap resolved year → null (the guard arithmetic
    * is replayed verbatim in the DuckDB twin), as is any out-of-range
    * field. */
  def anchor3164TsUs(tsText: Column, anchor: Column): Column = {
    val monTok = regexp_extract(tsText, rfc3164TsRe, 1)
    val mon = monthTokens.foldLeft(lit(null).cast(IntegerType)) {
      case (acc, (t, m)) => when(monTok === t, lit(m)).otherwise(acc)
    }
    val day = nullif(regexp_extract(tsText, rfc3164TsRe, 2), lit("")).cast(IntegerType)
    val hh = nullif(regexp_extract(tsText, rfc3164TsRe, 3), lit("")).cast(IntegerType)
    val mi = nullif(regexp_extract(tsText, rfc3164TsRe, 4), lit("")).cast(IntegerType)
    val ss = nullif(regexp_extract(tsText, rfc3164TsRe, 5), lit("")).cast(IntegerType)
    val anchorMon = month(anchor)
    val yr = when(mon === 12 && anchorMon === 1, year(anchor) - 1)
      .when(mon === 1 && anchorMon === 12, year(anchor) + 1)
      .otherwise(year(anchor))
    val leap = (yr % 4 === 0 && yr % 100 =!= 0) || yr % 400 === 0
    val maxDay = when(mon === 2, when(leap, lit(29)).otherwise(lit(28)))
      .when(mon.isin(4, 6, 9, 11), lit(30)).otherwise(lit(31))
    val ok = mon.isNotNull && day.isNotNull && anchor.isNotNull &&
      day.between(1, maxDay) && hh <= 23 && mi <= 59 && ss <= 59
    // the guard makes every field valid before to_timestamp sees it, so
    // the ANSI path can't throw; single-letter patterns take unpadded days
    when(ok, unix_micros(to_timestamp(
      concat_ws(" ", yr, mon, day, hh, mi, ss), "yyyy M d H m s")))
      .otherwise(lit(null).cast(LongType))
  }

  /** RFC-shaped raw corpus: the RFC 5424 spec examples (§6.5), RFC 3164
    * BSD examples (§5.4), the reference README's own line (README.md:121),
    * NIL fields, boundary and invalid PRIs, and MikroTik/edge fallbacks. */
  val rfcFixture: Seq[(Int, String, String, String)] = Seq(
    (1, "<34>1 2003-10-11T22:14:15.003Z mymachine.example.com su - ID47 - 'su root' failed for lonvick on /dev/pts/8", "10.0.1.2:514", "2024-02-01 00:05:00"),
    (2, "<165>1 2003-08-24T05:14:15.000003-07:00 192.0.2.1 myproc 8710 - - %% It's time to make the do-nuts.", "10.0.1.2:514", "2024-02-01 00:10:00"),
    (3, "<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog - ID47 [exampleSDID@32473 iut=\"3\" eventSource=\"Application\" eventID=\"1011\"] An application event log entry", "10.0.1.3:514", "2024-02-01 00:15:00"),
    (4, "<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog - ID47 [exampleSDID@32473 iut=\"3\"][examplePriority@32473 class=\"high\"]", "10.0.1.3:514", "2024-02-01 00:20:00"),
    (5, "<166>1 2023-10-27T10:00:00+00:00 MyDevice this is a test", "10.0.1.4:514", "2024-02-01 00:25:00"),
    (6, "<0>1 - - - - - -", "10.0.1.4:514", "2024-02-01 00:30:00"),
    (7, "<13>Oct 11 22:14:15 mymachine su: 'su root' failed for lonvick", "10.0.1.5:514", "2024-02-01 00:35:00"),
    (8, "<13>Oct  7 10:09:00 unicorn sched[0]: That's All Folks!", "10.0.1.5:514", "2024-02-01 00:40:00"),
    (9, "<191>Nov 30 23:59:59 h1 x", "10.0.1.6:514", "2024-02-01 00:45:00"),
    (10, "<999>1 2023-01-01T00:00:00Z h a p m - x", "10.0.1.6:514", "2024-02-01 00:50:00"),
    (11, "firewall,info forward: in:ether1 out:ether2", "10.0.0.5:51514", "2024-02-01 00:55:00"),
    (12, "system,error,critical login failure for user admin", "10.0.0.5:51514", "2024-02-01 01:00:00"),
    (13, "<165>written without version", "10.0.1.7:514", "2024-02-01 01:05:00"),
    (14, "nospacetoken", "10.0.1.7:514", "2024-02-01 01:10:00"),
    (15, "", "10.0.1.8:514", "2024-02-01 01:15:00"),
    (16, "<165> leading space msg", "10.0.1.8:514", "2024-02-01 01:20:00"),
    // year-anchoring boundary rows (anchor3164TsUs): Dec stamp ingested
    // Jan 1 → previous year; Jan stamp ingested Dec 31 → next year;
    // Feb 29 under a non-leap resolved year → null
    (17, "<13>Dec 31 23:59:58 gw year rollover back", "10.0.1.9:514", "2025-01-01 00:00:05"),
    (18, "<13>Jan  1 00:00:02 gw year rollover fwd", "10.0.1.9:514", "2024-12-31 23:59:58"),
    (19, "<13>Feb 29 12:00:00 gw invalid in non-leap", "10.0.1.9:514", "2023-03-01 00:00:00"),
    // SD param-extraction shapes (parseSdParams): value WITH spaces,
    // empty value, param-less block, empty block
    (20, "<165>1 2003-10-11T22:14:15.003Z h app - - [meta@99 path=\"/var/log/app log\" note=\"\"][bare@1][x@2 k=\"v\"] spaced-value msg", "10.0.1.9:514", "2024-02-01 01:25:00"),
    (21, "<165>1 2003-10-11T22:14:15.003Z h app - - [] empty block", "10.0.1.9:514", "2024-02-01 01:30:00"),
    // §6.3.3 escape shapes: \" and \] inside a value (must not close
    // the value/block), \\ → \, and an unrecognized \d left as-is
    (22, "<165>1 2003-10-11T22:14:15.003Z h app - - [esc@9 path=\"C:\\\\logs\\\\app\" msg=\"say \\\"hi\\] now\\\" ok\" re=\"\\d+\"] escaped values", "10.0.1.9:514", "2024-02-01 01:35:00"),
    // §6.3.2's own repeated-PARAM-NAME example: both occurrences
    // survive the flat view; the map API keeps the last
    (23, "<165>1 2003-10-11T22:14:15.003Z h app - - [origin ip=\"192.0.2.1\" ip=\"192.0.2.129\"] dup param", "10.0.1.9:514", "2024-02-01 01:40:00"),
    // §6.4: UTF-8 MSG starts with the BOM (RFC example 1's shape) —
    // the marker is stripped, message content starts after it
    (24, "<34>1 2003-10-11T22:14:15.003Z mymachine.example.com su - ID47 - " + Bom + "'su root' failed for lonvick on /dev/pts/8", "10.0.1.2:514", "2024-02-01 01:45:00"),
    // §6.4 BOM after an SD block — same strip post-SD-split
    (25, "<165>1 2003-10-11T22:14:15.003Z h app - - [x@1 k=\"v\"] " + Bom + "bom after sd", "10.0.1.9:514", "2024-02-01 01:50:00"))

  def rfcLines(s: SparkSession): DataFrame = {
    import s.implicits._
    rfcFixture.toDF("id", "raw", "device", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s")))
      .drop("ts_s")
  }

  /** the RFC fixture as a DuckDB VALUES relation `f(id, raw, device, ts)` */
  def rfcLinesValuesSql: String = rfcLinesValuesSql("f")

  /** same VALUES relation under a caller-chosen alias (for oracles that
    * join the fixture against itself — no string surgery on the SQL) */
  def rfcLinesValuesSql(alias: String): String =
    rfcFixture.map { case (id, raw, dev, ts) =>
      val esc = raw.replace("'", "''")
      s"($id, '$esc', '$dev', TIMESTAMP '$ts')"
    }.mkString("(VALUES ", ", ", s") $alias(id, raw, device, ts)")

  /** DuckDB twin of [[parseRfc]] over `$rel` — the same regexes, branch
    * conditions and arithmetic; topics severity/message reuse the
    * [[parseSyslogOracleSql]] CASE logic inline. */
  def parseRfcOracleSql(rel: String): String = {
    val sevCase = severityTokens.map { case (t, c) => s"WHEN sevtok = '$t' THEN $c" }.mkString(" ")
    s"""WITH src AS (SELECT * FROM $rel),
       |pri AS (SELECT *,
       |  try_cast(nullif(regexp_extract(raw, '^<(\\d{1,3})>', 1), '') AS INT) AS pri
       |  FROM src),
       |fl AS (SELECT *,
       |  pri IS NOT NULL AND pri <= 191 AS pri_ok,
       |  pri IS NOT NULL AND pri <= 191 AND regexp_matches(raw, '${rfc5424Re}') AS is5424
       |  FROM pri),
       |fl2 AS (SELECT *,
       |  pri_ok AND NOT is5424 AND regexp_matches(raw, '${rfc3164Re}') AS is3164
       |  FROM fl),
       |fl3 AS (SELECT *, pri_ok AND NOT is5424 AND NOT is3164 AS ispri FROM fl2),
       |f5 AS (SELECT *,
       |  nullif(regexp_extract(raw, '${rfc5424Re}', 3), '') AS ts5,
       |  regexp_extract(raw, '${rfc5424Re}', 8) AS rest
       |  FROM fl3),
       |f6 AS (SELECT *, regexp_extract(rest, '${rfc5424SdRe}', 1) AS sdbr FROM f5),
       |tp AS (SELECT *,
       |  CASE WHEN strpos(raw, ' ') > 0 THEN substr(raw, 1, strpos(raw, ' ') - 1) ELSE raw END AS catstr,
       |  CASE WHEN strpos(raw, ' ') > 0 THEN substr(raw, strpos(raw, ' ') + 1) ELSE '' END AS tmsg
       |  FROM f6),
       |tt AS (SELECT *, string_split(catstr, ',') AS topics FROM tp),
       |td AS (SELECT *, len(topics) AS ntop,
       |  CASE WHEN len(topics) >= 2 THEN topics[2] ELSE NULL END AS sevtok FROM tt)
       |SELECT id,
       |  CASE WHEN is5424 THEN 'rfc5424' WHEN is3164 THEN 'rfc3164'
       |       WHEN ispri THEN 'pri' ELSE 'topics' END AS format,
       |  CAST(CASE WHEN pri_ok THEN pri // 8 END AS TINYINT) AS facility,
       |  CAST(CASE WHEN pri_ok THEN pri % 8
       |            WHEN ntop < 2 THEN 6 $sevCase ELSE 6 END AS TINYINT) AS severity,
       |  CAST(CASE WHEN is5424 THEN regexp_extract(raw, '${rfc5424Re}', 2) END AS INT) AS version,
       |  CASE WHEN is5424 THEN ts5
       |       WHEN is3164 THEN regexp_extract(raw, '${rfc3164Re}', 2) END AS ts_text,
       |  CASE WHEN is5424 THEN epoch_us(try_cast(ts5 AS TIMESTAMPTZ)) END AS ts_us,
       |  CASE WHEN is5424 THEN regexp_extract(raw, '${rfc5424Re}', 4)
       |       WHEN is3164 THEN regexp_extract(raw, '${rfc3164Re}', 3) END AS hostname,
       |  CASE WHEN is5424 THEN regexp_extract(raw, '${rfc5424Re}', 5) END AS appname,
       |  CASE WHEN is5424 THEN regexp_extract(raw, '${rfc5424Re}', 6) END AS procid,
       |  CASE WHEN is5424 THEN regexp_extract(raw, '${rfc5424Re}', 7) END AS msgid,
       |  CASE WHEN is5424 THEN
       |    CASE WHEN rest = '-' OR rest LIKE '- %' THEN '-'
       |         WHEN sdbr <> '' THEN sdbr END END AS sd,
       |  CASE WHEN is5424 THEN
       |         regexp_replace(
       |         CASE WHEN rest = '-' THEN ''
       |              WHEN rest LIKE '- %' THEN substr(rest, 3)
       |              WHEN sdbr <> '' THEN ltrim(substr(rest, len(sdbr) + 1))
       |              ELSE rest END, '^$Bom', '')
       |       WHEN is3164 THEN regexp_extract(raw, '${rfc3164Re}', 4)
       |       WHEN ispri THEN regexp_replace(raw, '^<\\d{1,3}>', '')
       |       WHEN ntop < 2 THEN raw ELSE tmsg END AS message
       |FROM td""".stripMargin
  }

  /** Raw syslog corpus — one line per parser branch (FIXTURES.md §1), with
    * injected deterministic device + event-time companions (the reference
    * stamps wall-clock/remoteAddr, which is untestable). */
  val syslogFixture: Seq[(Int, String, String, String)] = Seq(
    (1,  "firewall,info forward: in:ether1 out:ether2",            "10.0.0.5:51514", "2024-01-01 00:05:00"),
    (2,  "system,error,critical login failure for user admin",     "10.0.0.5:51514", "2024-01-01 00:15:00"),
    (3,  "wireless,fatal radio down",                              "10.0.0.6:41000", "2024-01-01 00:25:00"),
    (4,  "wireless,emergency radio down",                          "10.0.0.6:41000", "2024-01-01 01:05:00"),
    (5,  "dhcp,alert lease pool exhausted",                        "10.0.0.7:5514",  "2024-01-01 01:15:00"),
    (6,  "system,critical disk failure",                           "10.0.0.5:51514", "2024-01-01 01:25:00"),
    (7,  "interface,warning link flap on ether3",                  "10.0.0.8:514",   "2024-01-01 02:05:00"),
    (8,  "dns,notice cache flushed",                               "10.0.0.8:514",   "2024-01-01 02:15:00"),
    (9,  "firewall,debug rule matched",                            "10.0.0.5:51514", "2024-01-01 02:25:00"),
    (10, "sniffer,packet tcp 10.0.0.1:443",                        "10.0.0.9:60000", "2024-01-01 03:05:00"),
    (11, "ppp,raw LCP echo",                                       "10.0.0.9:60000", "2024-01-01 03:15:00"),
    (12, "vpn,weird tunnel established",                           "10.0.0.7:5514",  "2024-01-01 03:25:00"),
    (13, "a,unknownsev,b,c msg body",                              "10.0.0.7:5514",  "2024-01-01 04:05:00"),
    (14, "<166>1 2023-10-27T10:00:00+00:00 MyDevice this is a test", "10.0.0.10:1000", "2024-01-01 04:15:00"),
    (15, "plainword no commas here",                               "10.0.0.10:1000", "2024-01-01 04:25:00"),
    (16, "nospacetoken",                                           "10.0.0.11:2000", "2024-01-01 05:05:00"),
    (17, "",                                                       "10.0.0.11:2000", "2024-01-01 05:15:00"),
    (18, "firewall,info ",                                         "10.0.0.5:51514", "2024-01-01 05:25:00"),
    (19, "firewall,info forward: in:ether1 out:ether2",            "10.0.0.12:3000", "2024-01-01 05:35:00"))

  /** fixture as a DataFrame: id, raw, device, ts */
  def rawLines(s: SparkSession): DataFrame = {
    import s.implicits._
    syslogFixture.toDF("id", "raw", "device", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s")))
      .drop("ts_s")
  }

  /** the same fixture as a DuckDB VALUES relation `f(id, raw, device, ts)` */
  def rawLinesValuesSql: String = rawLinesValuesSql("f")

  /** same VALUES relation under a caller-chosen alias (for oracles that
    * join the fixture against itself — no string surgery on the SQL) */
  def rawLinesValuesSql(alias: String): String =
    syslogFixture.map { case (id, raw, dev, ts) =>
      val esc = raw.replace("'", "''")
      s"($id, '$esc', '$dev', TIMESTAMP '$ts')"
    }.mkString("(VALUES ", ", ", s") $alias(id, raw, device, ts)")

  // ---- device endpoint normalization (IPv4 + IPv6) -----------------------
  /** The address half of a device stamp. The reference only ever stamps
    * v4 "ip:port" (lib/lopParse.go:36 under a v4-only bind, main.go:32-35)
    * so `substring_index(device, ':', 1)` was the documented idiom — but
    * it returns garbage ("[2001") the moment a dual-stack listener stamps
    * a v6 sender. This is the one reading twin of `sources.Ingest
    * .deviceOf`, shared by every query that splits a device:
    *   - "[v6]:port" (RFC 3986 host literal, the stamp `deviceOf` writes)
    *     → the text inside the brackets;
    *   - bare v6 — 2+ colons, no brackets (operator-configured names,
    *     zone ids like "fe80::1%eth0" stay attached) → the whole string;
    *   - "v4:port" / bare v4 / hostname → text before the first colon
    *     (the reference idiom, unchanged).
    * Malformed "[..." with no closing bracket yields ''. */
  def deviceIp(device: Column): Column =
    when(device.startsWith("["),
        regexp_extract(device, "^\\[([^\\]]*)\\]", 1))
      .when(size(split(device, ":")) > 2, device)
      .otherwise(substring_index(device, ":", 1))

  /** the port half: bracketed-v6 and v4 stamps carry one; bare addresses
    * (no port recorded) are null */
  def devicePort(device: Column): Column =
    when(device.startsWith("["),
        when(regexp_extract(device, "\\]:([0-9]+)$", 1) === "", lit(null))
          .otherwise(regexp_extract(device, "\\]:([0-9]+)$", 1))
          .cast(IntegerType))
      .when(device.rlike("^[^:]+:[0-9]+$"),
        element_at(split(device, ":"), 2).cast(IntegerType))
      .otherwise(lit(null).cast(IntegerType))

  /** DuckDB twin of [[deviceIp]] over a column named `d` */
  def deviceIpSqlExpr(d: String): String =
    s"""CASE WHEN $d LIKE '[%' THEN coalesce(regexp_extract($d, '^\\[([^\\]]*)\\]', 1), '')
       |     WHEN len(string_split($d, ':')) > 2 THEN $d
       |     ELSE split_part($d, ':', 1) END""".stripMargin

  /** DuckDB twin of [[devicePort]] over a column named `d` */
  def devicePortSqlExpr(d: String): String =
    s"""CASE WHEN $d LIKE '[%' THEN try_cast(nullif(regexp_extract($d, '\\]:([0-9]+)$$', 1), '') AS INT)
       |     WHEN regexp_matches($d, '^[^:]+:[0-9]+$$') THEN split_part($d, ':', 2)::INT
       |     ELSE NULL END""".stripMargin

  /** Device endpoint forms beyond the syslog fixture's plain v4:port —
    * the shapes a dual-stack listener stamps (bracketed v6 with port)
    * plus the bare/operator-written forms `deviceIp` must not mangle.
    * ids start at 101 so unions with [[syslogFixture]] stay disjoint. */
  val deviceFormFixture: Seq[(Int, String)] = Seq(
    (101, "[2001:db8::1]:514"),     // bracketed v6 + port — the deviceOf stamp
    (102, "[::1]:51514"),           // v6 loopback + port
    (103, "2001:db8:0:0:1::2"),     // bare v6, no port
    (104, "fe80::1%eth0"),          // link-local with zone id (zone stays attached)
    (105, "192.168.7.9"),           // bare v4, no port
    (106, "[2001:DB8::CAFE]:6514"), // uppercase hex inside brackets
    (107, "::"),                    // all-zeros v6
    (108, "10.0.0.99:514"),         // the reference's own v4:port shape
    (109, "[::ffff:10.0.0.9]:514"), // v4-MAPPED in brackets + port
    (110, "::ffff:192.0.2.1"))      // bare v4-mapped, no port

  /** [[deviceFormFixture]] as a DuckDB VALUES relation `g(id, device)` */
  def deviceFormsValuesSql: String =
    deviceFormFixture.map { case (id, d) => s"($id, '$d')" }
      .mkString("(VALUES ", ", ", ") g(id, device)")

  /** IPv6 literals for the 128-bit arithmetic family (`q_ip6_funcs`):
    * compression at every position, uppercase, zero-run ties, negative-
    * high-bits prefixes, and embedded-dotted-quad tails (::ffff:1.2.3.4
    * — the v4-mapped form a dual-stack fleet emits for v4 senders, plus
    * the NAT64 mixed notation) which pre-normalize into two hex groups
    * before the hex-group decompression. */
  val ip6Fixture: Seq[(Int, String)] = Seq(
    (1, "2001:db8::1"),
    (2, "2001:db8:0:0:8d3::"),                      // explicit zeros then tail compression
    (3, "::1"),
    (4, "::"),
    (5, "fe80::204:61ff:fe9d:f156"),                // top bit set → negative hi
    (6, "2001:0DB8:0000:CD30:0000:0000:0000:0101"), // full form, uppercase, leading zeros
    (7, "ff02::2"),                                 // multicast
    (8, "1:2:3:4:5:6:7:8"),                         // no compression, no padding
    (9, "64:ff9b::101"),
    (10, "2001:db8:85a3::8a2e:370:7334"),
    (11, "::ffff:192.0.2.1"),                       // v4-mapped, canonical lowercase
    (12, "::FFFF:10.0.0.5"),                        // v4-mapped, uppercase hex
    (13, "64:ff9b::192.0.2.33"))                    // NAT64 mixed notation (RFC 6052)

  /** [[ip6Fixture]] as a DuckDB VALUES relation `v6(id, ip)` */
  def ip6ValuesSql: String =
    ip6Fixture.map { case (id, ip) => s"($id, '$ip')" }
      .mkString("(VALUES ", ", ", ") v6(id, ip)")

  /** DuckDB twin of parseSyslog over `$rel` (a relation with id/raw/...):
    * produces id, severity TINYINT, categories VARCHAR[], message. */
  def parseSyslogOracleSql(rel: String): String = {
    val knownList = knownTokens.map(t => s"'$t'").mkString(", ")
    val sevCase = severityTokens.map { case (t, c) => s"WHEN sevtok = '$t' THEN $c" }.mkString(" ")
    s"""WITH src AS (SELECT * FROM $rel),
       |p AS (SELECT *,
       |  CASE WHEN strpos(raw, ' ') > 0 THEN substr(raw, 1, strpos(raw, ' ') - 1) ELSE raw END AS catstr,
       |  CASE WHEN strpos(raw, ' ') > 0 THEN substr(raw, strpos(raw, ' ') + 1) ELSE '' END AS msg
       |  FROM src),
       |tt AS (SELECT *, string_split(catstr, ',') AS topics FROM p),
       |d AS (SELECT *, len(topics) AS n,
       |  CASE WHEN len(topics) >= 2 THEN topics[2] ELSE NULL END AS sevtok FROM tt)
       |SELECT id,
       |  CAST(CASE WHEN n < 2 THEN 6 $sevCase ELSE 6 END AS TINYINT) AS severity,
       |  CASE WHEN n < 2 THEN ['unknown']
       |       ELSE list_concat(list_concat([topics[1]], topics[3:]),
       |                        CASE WHEN sevtok IN ($knownList) THEN []::VARCHAR[] ELSE [sevtok] END)
       |  END AS categories,
       |  CASE WHEN n < 2 THEN raw ELSE msg END AS message
       |FROM d""".stripMargin
  }
}
