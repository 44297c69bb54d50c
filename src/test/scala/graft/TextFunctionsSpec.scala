package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.TextFunctions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, input: String): String =
    Seq(input).toDF("s").select(c.as("r")).as[String].head()

  test("stripUrls removes http and https runs") {
    assert(one(stripUrls(col("s")), "go https://a.b/c?d=1 and http://x.y now") == "go  and  now")
  }

  test("normalizeText strips non-alnum and lowercases, keeps unicode out") {
    assert(one(normalizeText(col("s")), "HeLLo, W0rld! éß 😀") == "hello w0rld  ")
  }

  test("htmlToText strips tags, unescapes entities, drops quote markers") {
    assert(one(htmlToText(col("s")), "<p>a &amp; b &gt;ok</p>") == "a & b >ok")
    assert(one(htmlToText(col("s")), ">>12345 hello") == " hello")
    assert(one(htmlToText(col("s")), ">greentext &#039;q&#039;") == "greentext 'q'")
  }

  test("chanTimestamp parses the 4chan free-text format incl. 2-digit year") {
    val out = Seq("08/12/25(Tue)13:05:41").toDF("s")
      .select(chanTimestamp(col("s")).as("t")).as[Timestamp].head()
    assert(out == Timestamp.valueOf("2025-08-12 13:05:41"))
  }

  test("malformed timestamps parse to null, not a job failure (ANSI mode)") {
    val chan = Seq("garbage", "13/45/25(Xxx)99:99:99", null).toDF("s")
      .select(chanTimestamp(col("s")).as("t")).collect()
    assert(chan.forall(_.isNullAt(0)))
    val iso = Seq("not-a-date", "2024-13-99T99:00:00Z").toDF("s")
      .select(isoParse(col("s")).as("t")).collect()
    assert(iso.forall(_.isNullAt(0)))
  }

  test("isoParse handles trailing Z") {
    val out = Seq("2024-01-31T23:59:58Z").toDF("s")
      .select(isoParse(col("s")).as("t")).as[Timestamp].head()
    assert(out == Timestamp.valueOf("2024-01-31 23:59:58"))
  }

  test("epochToTs converts epoch seconds") {
    val out = Seq(0L).toDF("e").select(epochToTs(col("e")).as("t")).as[Timestamp].head()
    assert(out == Timestamp.valueOf("1970-01-01 00:00:00"))
  }

  test("jsonGetLong extracts with default") {
    val df = Seq("""{"score": 7}""", """{"other": 1}""", "not json").toDF("j")
    val out = df.select(jsonGetLong(col("j"), "score", 0).as("r")).as[Long].collect().toSeq
    assert(out == Seq(7L, 0L, 0L))
  }

  test("scrubPii redacts emails, IPs, and phone runs with typed placeholders") {
    val df = Seq(
      "mail me at jo.doe+x@sub.example.org today",
      "server 192.168.1.17 is down",
      "call +44 (0)20 7946-0958 now",
      "no pii here at all").toDF("t")
    val out = df.select(scrubPii(col("t")).as("c")).as[String].collect()
    assert(out(0) == "mail me at <EMAIL> today")
    assert(out(1) == "server <IP> is down")
    assert(out(2) == "call <PHONE> now")
    assert(out(3) == "no pii here at all")
  }

  test("repetitionRatio measures duplicate-token fraction") {
    val df = Seq("a b c d", "spam spam spam spam", "x x y y").toDF("t")
    val out = df.select(repetitionRatio(col("t")).as("r")).as[Double].collect()
    assert(out.toSeq == Seq(0.0, 0.75, 0.5))
  }

  test("dayString formats UTC days") {
    val out = Seq(Timestamp.valueOf("2024-03-05 23:59:59")).toDF("t")
      .select(dayString(col("t")).as("d")).as[String].head()
    assert(out == "2024-03-05")
  }

  test("NfcNormalize composes combining marks; ASCII is identity; null passes") {
    val decomposed = "cafe\u0301 nai\u0308ve" // e + U+0301, i + U+0308
    val df = Seq(Some(decomposed), Some("plain ascii"), None).toDF("t")
    val out = df.select(graft.functions.NfcNormalize(col("t")).as("n"))
      .as[Option[String]].collect().toSeq
    assert(out == Seq(Some("caf\u00e9 na\u00efve"), Some("plain ascii"), None))
    // parity with the JDK reference on every input incl. already-composed
    val jdk = java.text.Normalizer.normalize(decomposed, java.text.Normalizer.Form.NFC)
    assert(out.head.contains(jdk))
    // idempotent: normalizing the normalized form changes nothing
    val again = Seq(jdk).toDF("t")
      .select(graft.functions.NfcNormalize(col("t")).as("n")).as[String].head()
    assert(again == jdk)
  }

  test("StripAccents folds precomposed AND combining forms to base letters; ASCII/null pass") {
    // both representations of the same accented word fold to one key —
    // the property that makes it a dedup-key pass, not a re-encoding
    val df = Seq(Some("café"), Some("café"), Some("naïve ñ ç"),
      Some("plain ascii"), None).toDF("t")
    val out = df.select(graft.functions.StripAccents(col("t")).as("n"))
      .as[Option[String]].collect().toSeq
    assert(out == Seq(Some("cafe"), Some("cafe"), Some("naive n c"),
      Some("plain ascii"), None))
    // idempotent: folding the folded form changes nothing
    val again = Seq("cafe").toDF("t")
      .select(graft.functions.StripAccents(col("t")).as("n")).as[String].head()
    assert(again == "cafe")
  }

  test("NfcNormalize shortens the code-point count by the composed marks") {
    val df = Seq("ab cde\u0301").toDF("t") // 7 code points -> 6 after NFC
    val (raw, norm) = df.select(
      length(col("t")).cast("long").as("r"),
      length(graft.functions.NfcNormalize(col("t"))).cast("long").as("n"))
      .as[(Long, Long)].head()
    assert((raw, norm) == ((7L, 6L)))
  }

  test("NfcNormalize ASCII fast path is zero-alloc; inputs coerce like built-ins") {
    import org.apache.spark.unsafe.types.UTF8String
    val ascii = UTF8String.fromString("plain ascii, no high bit")
    assert(graft.functions.NfcNormalize.nfc(ascii) eq ascii)
    // non-ASCII but already-NFC also returns the same instance
    val composed = UTF8String.fromString("caf\u00e9")
    assert(graft.functions.NfcNormalize.nfc(composed) eq composed)
    // ImplicitCastInputTypes: an atomic non-string child coerces to its
    // string form at plan time (same contract as upper/length), no CCE
    val viaLong = Seq(123L).toDF("n")
      .select(graft.functions.NfcNormalize(col("n")).as("s")).as[String].head()
    assert(viaLong == "123")
  }
}
