package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** q_parse_syslog semantics (SURVEY.md §1.4, FIXTURES.md §1) — every branch
  * of /root/reference/lib/lopParse.go:29-81 plus the engine-defined fix for
  * its no-space panic, and property tests over generated raw lines. */
class ParserSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `rows` as a DataFrame read through an RDD scan: over a local Seq the
    * optimizer folds the projection into the relation
    * (`ConvertToLocalRelation`), so only `eval` would ever run, never the
    * generated code */
  private def scanned[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](
      rows: Seq[T], names: String*): org.apache.spark.sql.DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(rows, 2)).toDF(names: _*)

  private def parse(lines: Seq[String]): Seq[(String, Byte, Seq[String], String)] =
    scanned(lines, "raw")
      .select(col("raw"), model.parseSyslog(col("raw")).as("p"))
      .select("raw", "p.severity", "p.categories", "p.message")
      .as[(String, Byte, Seq[String], String)]
      .collect().toSeq

  // FIXTURES.md §1 expectations, keyed by raw line
  private val expected = Seq(
    ("firewall,info forward: in:ether1 out:ether2", 6, Seq("firewall"), "forward: in:ether1 out:ether2"),
    ("system,error,critical login failure for user admin", 3, Seq("system", "critical"), "login failure for user admin"),
    ("wireless,fatal radio down", 0, Seq("wireless"), "radio down"),
    ("wireless,emergency radio down", 0, Seq("wireless"), "radio down"),
    ("dhcp,alert lease pool exhausted", 1, Seq("dhcp"), "lease pool exhausted"),
    ("system,critical disk failure", 2, Seq("system"), "disk failure"),
    ("interface,warning link flap on ether3", 4, Seq("interface"), "link flap on ether3"),
    ("dns,notice cache flushed", 5, Seq("dns"), "cache flushed"),
    ("firewall,debug rule matched", 7, Seq("firewall"), "rule matched"),
    ("sniffer,packet tcp 10.0.0.1:443", 7, Seq("sniffer"), "tcp 10.0.0.1:443"),
    ("ppp,raw LCP echo", 7, Seq("ppp"), "LCP echo"),
    ("vpn,weird tunnel established", 6, Seq("vpn", "weird"), "tunnel established"),
    ("a,unknownsev,b,c msg body", 6, Seq("a", "b", "c", "unknownsev"), "msg body"),
    ("<166>1 2023-10-27T10:00:00+00:00 MyDevice this is a test", 6, Seq("unknown"),
      "<166>1 2023-10-27T10:00:00+00:00 MyDevice this is a test"),
    ("plainword no commas here", 6, Seq("unknown"), "plainword no commas here"),
    ("nospacetoken", 6, Seq("unknown"), "nospacetoken"),
    ("", 6, Seq("unknown"), ""),
    ("firewall,info ", 6, Seq("firewall"), ""),
    // engine-defined edges, pinned from the Column-tree parser under
    // ANSI: a null line keeps severity 6 with null categories and an
    // empty message (ANSI `size(null)` is null, so the fallback never
    // fires); empty comma fields are topics, an empty severity token
    // is unknown and appended like any other
    (null, 6, null, ""),
    ("a,info,", 6, Seq("a", ""), ""),
    (",", 6, Seq("", ""), ""),
    (" x", 6, Seq("unknown"), " x"),
    ("a,", 6, Seq("a", ""), ""),
    // multi-byte UTF-8 on both sides of the first space and the commas
    ("zöne,wärn,ß€ mëssage ü", 6, Seq("zöne", "ß€", "wärn"), "mëssage ü"),
    ("日本,error,é 語 x", 3, Seq("日本", "é"), "語 x"))

  /** `body` with whole-stage codegen off and the interpreted projection
    * factory, so every expression runs through `eval` */
  private def interpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def checkTable(got: Seq[(String, Byte, Seq[String], String)]): Unit =
    expected.zip(got.map(r => (r._1, r._2.toInt, r._3, r._4))).foreach { case (want, have) =>
      assert(have === want, s"for raw line '${want._1}'")
    }

  test("every parser branch matches the reference semantics table") {
    checkTable(parse(expected.map(_._1)))
  }

  test("interpreted eval matches the reference semantics table") {
    checkTable(interpreted(parse(expected.map(_._1))))
  }

  // --- property tests over generated lines (deterministic seed) ---------
  private val topicGen = Gen.oneOf("firewall", "system", "wifi", "a", "x1")
  private val sevGen = Gen.oneOf(model.knownTokens ++ Seq("bogus", "zzz", "Info", ""))
  private val msgGen = Gen.oneOf("", "hello world", "x", "a b c d", "ünïcode msg", "trailing ")
  private val lineGen: Gen[String] = Gen.oneOf(
    for { t <- topicGen; s0 <- sevGen; extra <- Gen.listOf(topicGen); m <- msgGen }
      yield (Seq(t, s0) ++ extra).mkString(",") + " " + m,
    Gen.oneOf("nospace", "", "word1 word2", "a,b", ",", ", x", " leadingspace"),
    Gen.asciiPrintableStr)

  private def samples(n: Int): Seq[String] =
    (0 until n).flatMap(i => lineGen.apply(Gen.Parameters.default, Seed(42L + i)))

  /** the topics parse in plain Scala string splits, independent of the
    * byte-level kernel: first ' ' splits head from message, the head's
    * ',' fields (empties kept) give topic, severity token and the rest */
  private def reference(raw: String): (String, Byte, Seq[String], String) = {
    val parts = raw.split(" ", 2)
    val topics = parts(0).split(",", -1).toSeq
    if (topics.length < 2) (raw, 6.toByte, Seq("unknown"), raw)
    else {
      val code = model.severityTokens.toMap.get(topics(1))
      (raw, code.getOrElse(6).toByte,
        topics.head +: (topics.drop(2) ++ (if (code.isEmpty) Seq(topics(1)) else Nil)),
        if (parts.length > 1) parts(1) else "")
    }
  }

  test("compiled parse equals the plain-Scala reference on generated lines") {
    val lines = samples(300)
    val got = parse(lines)
    assert(got.length === lines.length)
    got.zip(lines.map(reference)).foreach { case (have, want) =>
      assert(have === want, s"for raw line '${want._1}'")
    }
  }

  test("parser is total and severity always in [0,7]") {
    val rows = parse(samples(300))
    assert(rows.nonEmpty)
    rows.foreach { case (raw, sev, cats, msg) =>
      assert(sev >= 0 && sev <= 7, s"severity out of range for '$raw'")
      assert(cats.nonEmpty, s"categories empty for '$raw'")
      assert(msg != null)
    }
  }

  test("fallback iff first space-token has fewer than 2 comma-fields") {
    parse(samples(300)).foreach { case (raw, sev, cats, msg) =>
      val catStr = raw.split(" ", 2).head
      val isFallback = catStr.split(",", -1).length < 2
      if (isFallback) {
        assert(sev === 6 && cats === Seq("unknown") && msg === raw, s"for '$raw'")
      } else {
        assert(cats.head === catStr.split(",", -1).head, s"for '$raw'")
      }
    }
  }

  test("unknown severity token is appended LAST to categories") {
    parse(Seq("top,oddtok,mid hello")).foreach { case (_, sev, cats, _) =>
      assert(sev === 6)
      assert(cats === Seq("top", "mid", "oddtok"))
    }
  }

  test("non-fallback lines reconstruct: catStr + ' ' + message == raw") {
    parse(samples(300)).foreach { case (raw, _, cats, msg) =>
      val catStr = raw.split(" ", 2).head
      if (catStr.split(",", -1).length >= 2 && raw.contains(" "))
        assert(catStr + " " + msg === raw, s"for '$raw'")
    }
  }

  test("severity token mapping matches lopParse.go:51-72 verbatim") {
    val got = parse(model.knownTokens.map(t => s"top,$t m"))
    val want = model.severityTokens.toMap
    model.knownTokens.zip(got).foreach { case (tok, (_, sev, _, _)) =>
      assert(sev.toInt === want(tok), s"token $tok")
    }
  }

  // ===== q_parse_rfc5424: real-syslog header decode =====================

  private def parseRfc(lines: Seq[String]): Seq[Row] =
    scanned(lines, "raw")
      .select(col("raw"), model.parseRfc(col("raw")).as("p"))
      .select("raw", "p.format", "p.facility", "p.severity", "p.version",
        "p.ts_text", "p.ts_us", "p.hostname", "p.appname", "p.procid",
        "p.msgid", "p.sd", "p.message")
      .collect().toSeq

  test("rfc decode: every fixture branch lands in the right format with the right header fields") {
    val byRaw = parseRfc(model.rfcFixture.map(_._2))
      .map(r => r.getString(0) -> r).toMap
    def f(raw: String) = byRaw(raw)

    // RFC 5424 §6.5 example: pri 34 → facility 4 (auth), severity 2 (crit)
    val r1 = f("<34>1 2003-10-11T22:14:15.003Z mymachine.example.com su - ID47 - 'su root' failed for lonvick on /dev/pts/8")
    assert(r1.getString(1) === "rfc5424")
    assert(r1.getByte(2) === 4.toByte && r1.getByte(3) === 2.toByte)
    assert(r1.getInt(4) === 1)
    assert(r1.getString(7) === "mymachine.example.com")
    assert(r1.getString(8) === "su" && r1.getString(9) === "-" && r1.getString(10) === "ID47")
    assert(r1.getString(11) === "-")
    assert(r1.getString(12) === "'su root' failed for lonvick on /dev/pts/8")
    // fractional-second RFC 3339 parses to exact µs
    assert(r1.getLong(6) === java.time.Instant.parse("2003-10-11T22:14:15.003Z")
      .toEpochMilli * 1000L)

    // SD blocks + message: sd captured, message after the blocks
    val r3 = f("<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog - ID47 [exampleSDID@32473 iut=\"3\" eventSource=\"Application\" eventID=\"1011\"] An application event log entry")
    assert(r3.getString(11).startsWith("[exampleSDID@32473"))
    assert(r3.getString(12) === "An application event log entry")

    // SD only, no message
    val r4 = f("<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog - ID47 [exampleSDID@32473 iut=\"3\"][examplePriority@32473 class=\"high\"]")
    assert(r4.getString(11) === "[exampleSDID@32473 iut=\"3\"][examplePriority@32473 class=\"high\"]")
    assert(r4.getString(12) === "")

    // the reference README's own example now decodes instead of falling through
    val r5 = f("<166>1 2023-10-27T10:00:00+00:00 MyDevice this is a test")
    assert(r5.getString(1) === "rfc5424")
    assert(r5.getByte(2) === 20.toByte && r5.getByte(3) === 6.toByte)
    assert(r5.getString(7) === "MyDevice")

    // RFC 3164: BSD stamp text kept (no year → no ts_us), host + msg split
    val r7 = f("<13>Oct 11 22:14:15 mymachine su: 'su root' failed for lonvick")
    assert(r7.getString(1) === "rfc3164")
    assert(r7.getByte(2) === 1.toByte && r7.getByte(3) === 5.toByte)
    assert(r7.getString(5) === "Oct 11 22:14:15" && r7.isNullAt(6))
    assert(r7.getString(7) === "mymachine")
    assert(r7.getString(12) === "su: 'su root' failed for lonvick")
    // space-padded day
    assert(f("<13>Oct  7 10:09:00 unicorn sched[0]: That's All Folks!")
      .getString(1) === "rfc3164")

    // PRI > 191 is not a valid header (RFC 5424 §6.2.1) → topics fallback
    val r10 = f("<999>1 2023-01-01T00:00:00Z h a p m - x")
    assert(r10.getString(1) === "topics" && r10.isNullAt(2))

    // MikroTik lines keep their topics severity; facility is null
    val r11 = f("firewall,info forward: in:ether1 out:ether2")
    assert(r11.getString(1) === "topics" && r11.isNullAt(2))
    assert(r11.getByte(3) === 6.toByte)
    assert(r11.getString(12) === "forward: in:ether1 out:ether2")

    // valid PRI but neither shape: decode pri, rest is the message
    val r13 = f("<165>written without version")
    assert(r13.getString(1) === "pri")
    assert(r13.getByte(2) === 20.toByte && r13.getByte(3) === 5.toByte)
    assert(r13.getString(12) === "written without version")
  }

  // --- RFC property tests (deterministic seed) --------------------------
  private val hostGen = Gen.oneOf("h1", "mymachine.example.com", "192.0.2.1", "-")
  private val wordGen = Gen.oneOf("su", "app", "sched", "-", "x9")
  private val priGen = Gen.choose(0, 191)
  private val rfcMsgGen = Gen.oneOf("", "hello world", "a b", "'quoted' txt", "ünïcode")

  private val rfc5424Gen: Gen[(Int, String, String, String, String)] = for {
    pri <- priGen; host <- hostGen; app <- wordGen; msg <- rfcMsgGen
  } yield (pri, "2023-10-27T10:00:00Z", host, app, msg)

  private def rfcSamples(n: Int): Seq[(Int, String, String, String, String)] =
    (0 until n).flatMap(i => rfc5424Gen.apply(Gen.Parameters.default, Seed(7L + i)))

  test("rfc round-trip: generated 5424 lines recover pri/host/app/msg exactly") {
    val cases = rfcSamples(200)
    val lines = cases.map { case (pri, ts, host, app, msg) =>
      s"<$pri>1 $ts $host $app 77 MID -" + (if (msg.isEmpty) "" else s" $msg")
    }
    parseRfc(lines).zip(cases).foreach { case (r, (pri, _, host, app, msg)) =>
      assert(r.getString(1) === "rfc5424", s"line '${r.getString(0)}'")
      assert(r.getByte(2) === (pri / 8).toByte && r.getByte(3) === (pri % 8).toByte)
      assert(r.getString(7) === host && r.getString(8) === app)
      assert(r.getString(12) === msg, s"line '${r.getString(0)}'")
    }
  }

  test("sd params: fixture shapes — multi-block, spaced values, bare/empty blocks, NIL") {
    val rows = scanned(Seq(
      // RFC 5424 §6.5 single and multi-block examples
      "[exampleSDID@32473 iut=\"3\" eventSource=\"Application\" eventID=\"1011\"]",
      "[exampleSDID@32473 iut=\"3\"][examplePriority@32473 class=\"high\"]",
      // value with spaces, empty value, param-less block, empty block
      "[meta@99 path=\"/var/log/app log\" note=\"\"][bare@1][]",
      "-", null), "sd")
      .select(model.parseSdParams(col("sd")).as("m"))
      .as[Option[Map[String, Map[String, String]]]]
      .collect().toSeq
    assert(rows(0) === Some(Map("exampleSDID@32473" ->
      Map("iut" -> "3", "eventSource" -> "Application", "eventID" -> "1011"))))
    assert(rows(1) === Some(Map(
      "exampleSDID@32473" -> Map("iut" -> "3"),
      "examplePriority@32473" -> Map("class" -> "high"))))
    assert(rows(2) === Some(Map(
      "meta@99" -> Map("path" -> "/var/log/app log", "note" -> ""),
      "bare@1" -> Map.empty[String, String],
      "" -> Map.empty[String, String])))
    assert(rows(3) === None && rows(4) === None)
  }

  test("sd params property: generated blobs round-trip to the exact nested map") {
    val nameGen = Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('@', '.', '-')))
      .map(_.mkString.take(12))
    val valGen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '), Gen.const('/')))
      .map(_.mkString.take(20))
    val paramGen = Gen.mapOfN(3, Gen.zip(nameGen, valGen)).map(_.take(3))
    val blockGen = Gen.zip(nameGen, paramGen)
    val blobGen = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, blockGen))
      // RFC 5424 §6.3.2: SD-IDs unique per message — dedup by id
      .map(_.groupBy(_._1).map(_._2.head).toSeq)
    val cases = (0 until 200).flatMap(i => blobGen.apply(Gen.Parameters.default, Seed(41L + i)))
    val blobs = cases.map(_.map { case (id, ps) =>
      (Seq(id) ++ ps.map { case (k, v) => s"""$k="$v"""" }).mkString("[", " ", "]")
    }.mkString)
    val got = scanned(blobs, "sd")
      .select(model.parseSdParams(col("sd")).as("m"))
      .as[Map[String, Map[String, String]]]
      .collect().toSeq
    got.zip(cases).zip(blobs).foreach { case ((m, c), blob) =>
      assert(m === c.map { case (id, ps) => id -> ps.toMap }.toMap, s"blob '$blob'")
    }
  }

  /** the producer-side RFC 5424 §6.3.3 escape: `\` `"` `]` → `\\` `\"` `\]` */
  private def sdEscape(v: String): String =
    v.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case ']'  => "\\]"
      case c    => c.toString
    }

  test("sd params: §6.3.3 escapes — \\\" and \\] don't close value/block, \\\\ decodes, \\d passes through") {
    val blob = """[esc@9 path="C:\\logs\\app" msg="say \"hi\] now\" ok" re="\d+"]"""
    val m = scanned(Seq(blob), "sd")
      .select(model.parseSdParams(col("sd")).as("m"))
      .as[Map[String, Map[String, String]]]
      .collect().head
    assert(m === Map("esc@9" -> Map(
      "path" -> """C:\logs\app""",
      "msg" -> """say "hi] now" ok""",
      "re" -> """\d+""")))
    // flat view decodes identically
    val rows = model.sdParamRows(scanned(Seq((1, blob)), "id", "sd"), "sd")
      .select("param", "value").as[(String, String)].collect().toMap
    assert(rows === Map("path" -> """C:\logs\app""",
      "msg" -> """say "hi] now" ok""", "re" -> """\d+"""))
  }

  test("sd params property: escape(x) round-trips to x through both APIs") {
    val rawValGen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf('"', ']', '\\', ' ', '[', '='))).map(_.mkString.take(20))
    val vals = (0 until 200).flatMap(i =>
      rawValGen.apply(Gen.Parameters.default, Seed(97L + i)))
    val blobs = vals.map(v => s"""[p@1 k="${sdEscape(v)}"]""")
    val got = scanned(blobs, "sd")
      .select(model.parseSdParams(col("sd")).as("m"))
      .as[Map[String, Map[String, String]]]
      .collect().toSeq
    got.zip(vals).zip(blobs).foreach { case ((m, v), blob) =>
      assert(m === Map("p@1" -> Map("k" -> v)), s"blob '$blob'")
    }
  }

  test("rfc 5424 §6.4: leading BOM in MSG is an encoding marker, stripped from message") {
    val bom = model.Bom
    val rows = parseRfc(Seq(
      s"<34>1 2003-10-11T22:14:15.003Z h su - ID47 - ${bom}'su root' failed",
      s"<165>1 2003-10-11T22:14:15.003Z h app - - [x@1 k=\"v\"] ${bom}after sd",
      // BOM mid-message is CONTENT, not a marker — untouched
      s"<34>1 2003-10-11T22:14:15.003Z h su - ID47 - keep ${bom} inside",
      // a doubled BOM strips only the marker copy
      s"<34>1 2003-10-11T22:14:15.003Z h su - ID47 - $bom${bom}doubled"))
    assert(rows(0).getString(12) === "'su root' failed")
    assert(rows(1).getString(12) === "after sd")
    assert(rows(2).getString(12) === s"keep $bom inside")
    assert(rows(3).getString(12) === s"${bom}doubled")
  }

  test("sd params: repeated PARAM-NAME (§6.3.2 origin example) — map keeps last, flat view keeps all") {
    val blob = """[origin ip="192.0.2.1" ip="192.0.2.129"][x@2 a="1"]"""
    val m = scanned(Seq(blob), "sd")
      .select(model.parseSdParams(col("sd")).as("m"))
      .as[Map[String, Map[String, String]]]
      .collect().head
    assert(m === Map("origin" -> Map("ip" -> "192.0.2.129"),
      "x@2" -> Map("a" -> "1")))
    val rows = model.sdParamRows(scanned(Seq((1, blob)), "id", "sd"), "sd")
      .select("sd_id", "param", "value").as[(String, String, String)]
      .collect().toSeq.sorted
    assert(rows === Seq(("origin", "ip", "192.0.2.1"),
      ("origin", "ip", "192.0.2.129"), ("x@2", "a", "1")))
  }

  test("3164 anchoring: Dec/Jan rollover, leap-year guard, hour-bucket join") {
    def anchored(tsText: String, anchor: String): Option[Long] = {
      val r = Seq((tsText, anchor)).toDF("t", "a")
        .select(model.anchor3164TsUs(col("t"), to_timestamp(col("a"))).as("us"))
        .collect().head
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    def us(iso: String): Long =
      java.time.Instant.parse(iso).toEpochMilli * 1000L
    // plain: same year as anchor
    assert(anchored("Oct 11 22:14:15", "2024-11-01 00:00:00") === Some(us("2024-10-11T22:14:15Z")))
    // Dec stamp ingested Jan 1 → PREVIOUS year
    assert(anchored("Dec 31 23:59:58", "2025-01-01 00:00:05") === Some(us("2024-12-31T23:59:58Z")))
    // Jan stamp ingested Dec 31 → NEXT year
    assert(anchored("Jan  1 00:00:02", "2024-12-31 23:59:58") === Some(us("2025-01-01T00:00:02Z")))
    // Feb 29: valid under a leap anchor year, null under a non-leap one
    assert(anchored("Feb 29 12:00:00", "2024-03-01 00:00:00") === Some(us("2024-02-29T12:00:00Z")))
    assert(anchored("Feb 29 12:00:00", "2023-03-01 00:00:00") === None)
    // century rule: 2100 is NOT leap, 2000 is
    assert(anchored("Feb 29 12:00:00", "2100-03-01 00:00:00") === None)
    assert(anchored("Feb 29 12:00:00", "2000-03-01 00:00:00") === Some(us("2000-02-29T12:00:00Z")))
    // out-of-range fields and malformed stamps → null, never a throw
    assert(anchored("Apr 31 10:00:00", "2024-04-01 00:00:00") === None)
    assert(anchored("Oct 11 24:00:00", "2024-10-01 00:00:00") === None)
    assert(anchored("Oct 11 22:60:00", "2024-10-01 00:00:00") === None)
    assert(anchored("nonsense", "2024-10-01 00:00:00") === None)
    // anchored 3164 rows join the time-bucketed family: hour truncation
    // of the materialized ts lands in the right bucket
    val hour = Seq(("Dec 31 23:59:58", "2025-01-01 00:00:05")).toDF("t", "a")
      .select(date_trunc("hour",
        timestamp_micros(model.anchor3164TsUs(col("t"), to_timestamp(col("a"))))).as("h"))
      .as[java.sql.Timestamp].collect().head
    assert(hour.toInstant === java.time.Instant.parse("2024-12-31T23:00:00Z"))
  }

  test("3164 anchoring property: generated stamps resolve to the rule's year exactly") {
    val gen = for {
      mon <- Gen.choose(1, 12)
      day <- Gen.choose(1, 28) // always-valid days; edge days covered above
      hh <- Gen.choose(0, 23); mi <- Gen.choose(0, 59); ss <- Gen.choose(0, 59)
      aMon <- Gen.choose(1, 12)
      aYear <- Gen.choose(1990, 2085)
    } yield (mon, day, hh, mi, ss, aMon, aYear)
    val cases = (0 until 250).flatMap(i => gen.apply(Gen.Parameters.default, Seed(63L + i)))
    val monTok = model.monthTokens.map(_.swap).toMap
    val df = cases.zipWithIndex.map { case ((mon, day, hh, mi, ss, aMon, aYear), i) =>
      val pad = if (day < 10) s" $day" else day.toString
      (i.toLong, f"${monTok(mon)} $pad $hh%02d:$mi%02d:$ss%02d", f"$aYear-$aMon%02d-15 12:00:00")
    }.toDF("i", "t", "a")
    val got = df.select(col("i"),
        model.anchor3164TsUs(col("t"), to_timestamp(col("a"))).as("us"))
      .orderBy("i").as[(Long, Option[Long])].collect()
    got.zip(cases).foreach { case ((_, us), (mon, day, hh, mi, ss, aMon, aYear)) =>
      val yr = if (mon == 12 && aMon == 1) aYear - 1
        else if (mon == 1 && aMon == 12) aYear + 1 else aYear
      val want = java.time.LocalDateTime.of(yr, mon, day, hh, mi, ss)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
      assert(us === Some(want), s"mon=$mon day=$day anchor=$aYear-$aMon")
    }
  }

  test("rfc decode is total: arbitrary input never throws, fields stay in range") {
    val junk = (0 until 300).flatMap(i =>
      Gen.asciiPrintableStr.apply(Gen.Parameters.default, Seed(99L + i))) ++
      Seq("<", "<>", "<1>", "<12", "<192>1 x y", "<0>", "<191>",
        "<1><2>msg", "<01>Oct 11 22:14:15 h m")
    parseRfc(junk).foreach { r =>
      val fmt = r.getString(1)
      assert(Set("rfc5424", "rfc3164", "pri", "topics")(fmt), s"'${r.getString(0)}'")
      if (!r.isNullAt(2))
        assert(r.getByte(2) >= 0 && r.getByte(2) <= 23, s"'${r.getString(0)}'")
      assert(r.getByte(3) >= 0 && r.getByte(3) <= 7, s"'${r.getString(0)}'")
      assert(!r.isNullAt(12), s"message null for '${r.getString(0)}'")
      // facility present iff a valid PRI header was decoded
      assert(r.isNullAt(2) === (fmt == "topics"), s"'${r.getString(0)}'")
    }
  }
}
