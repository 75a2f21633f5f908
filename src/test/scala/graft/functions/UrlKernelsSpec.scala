package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** r19 URL kernels ≡ the r15 regex compositions ([[UrlFunctions.ref]])
  * bit-for-bit, on a corpus that covers every q97/q98 branch PLUS
  * adversarial shapes the synthesis never makes: empty strings, bare
  * separators, multiple '@'/':'/'?'/'#', '?' after '#' (the documented
  * first-?-anywhere wart), schemes that start "www.", trailing dots,
  * non-label characters in hosts, multibyte text, and Java line
  * terminators (which must route the kernels through the exact-regex
  * fallback).
  */
class UrlKernelsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val handcrafted = Seq(
    "", "/", "?", "#", "@", "://", "a", "x.y",
    "https://user:pw@shop3.example.co.uk:8080/item/7?q=5&ref=x#sec2",
    "http://news4.example.com/item/1",
    "http://10.0.0.42:8080/item/3?q=1&ref=x",
    "https://news1.example.com",
    "http://localhost/x",
    "www.example.com/a/b?q=1",
    "/a/b?q=2",
    "a#b?c",                          // '?' inside the fragment
    "x?a=1#f?b=2",                    // cutQueryString's global replace
    "http://h.example.com/p?q=first&a=1&q=second",
    "http://h.example.com/p?xq=9&q=7",
    "http://h.example.com/p?q=",      // empty value at end
    "http://h.example.com/p?&q=1&&",  // empty pairs
    "1a://b",                         // scheme must start with a letter
    "www.://x",                       // scheme that starts www. (cutWWW backtrack)
    "www.x://y",
    "http://www.www.example.com/x",
    "http://sub.www.example.com/x",
    "http://user@www.x@y/p",          // two '@'s
    "http://:8080/p",                 // empty host with port
    "http://h.example.com.",          // trailing dot host
    "http://h.example.c_m/p",         // non-label char in host
    "http://h..example..com/p",
    "http://xn--bcher-kva.example/p", // punycode-ish
    "http://ĸöln.example/päth?q=välue#frägment", // multibyte
    "http://a.co.uk", "http://co.uk", "http://.co.uk", "http://a.ac.om.uk",
    "http://x.com.co.uk", "http://b-c.co.uk", "http://_bc.co.uk",
    "http://a.b_.c/p", "http://a.b-.c/p", "http://1.2.3.4", "http://1.2.3.4.",
    "http://h:80x/p", "http://h:/p", "http://h::80/p", "http://:80",
    "ftp+ssh-2.0://h/p", "http:/x", "http//x", "//host/path",
    "http://h/a//b///c/", "http://h/a/b/?q=1", "http://h/?#", "http://h/#?",
    "http://h#f1#f2", "http://h?q=1?r=2",
    // line terminators: must take the exact-regex fallback
    "http://h.example.com/p\n", "http://h.example.com:80\n/p",
    "http://h\r.example.com/p#frag\nmore", "http://h.example.com/p?q=a\nb#f",
    "#f\n", "http://h.example.com:80\n", "http://a.co.uk\n", "x\u0085y#f",
    "http://h\u2028.com/p", "http://a.b\u2029#f")

  private def synth(rnd: scala.util.Random): String = {
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.length))
    val scheme = pick(Seq("", "http://", "https://", "s3+x://", "1bad://"))
    val user = pick(Seq("", "u@", "u:p@", "@", "u@v@"))
    val host = pick(Seq("", "h", "h.example.com", "a.co.uk", "10.0.0.1",
      "www.x.org", "x..y", "h.", ".h", "h-1.b_2.c", "ĸöln.de"))
    val port = pick(Seq("", ":80", ":8080", ":x", ":", "::1"))
    val path = pick(Seq("", "/", "/a", "/a/b", "/a//b/", "/a b", "/ä/ö"))
    val q = pick(Seq("", "?", "?q=1", "?q=1&ref=x", "?ref=x&q=", "?xq=2&q=3",
      "?&&", "?q=ä"))
    val f = pick(Seq("", "#", "#sec", "#a?b", "#a#b"))
    scheme + user + host + port + path + q + f
  }

  test("every accessor: kernel ≡ regex composition on handcrafted + synthesized corpora") {
    val rnd = new scala.util.Random(19)
    val urls = handcrafted ++ (1 to 400).map(_ => synth(rnd))
    val df = urls.toDF("u")
    import UrlFunctions.{ref => R}
    import UrlFunctions._
    val pairs: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column)] = Seq(
      ("netloc", netloc(col("u")), R.netloc(col("u"))),
      ("domain", domain(col("u")), R.domain(col("u"))),
      ("domainWithoutWWW", domainWithoutWWW(col("u")), R.domainWithoutWWW(col("u"))),
      ("cutWWW", cutWWW(col("u")), R.cutWWW(col("u"))),
      ("topLevelDomain", topLevelDomain(col("u")), R.topLevelDomain(col("u"))),
      ("firstSignificantSubdomain", firstSignificantSubdomain(col("u")),
        R.firstSignificantSubdomain(col("u"))),
      ("cutToFirstSignificantSubdomain", cutToFirstSignificantSubdomain(col("u")),
        R.cutToFirstSignificantSubdomain(col("u"))),
      ("path", path(col("u")), R.path(col("u"))),
      ("pathFull", pathFull(col("u")), R.pathFull(col("u"))),
      ("queryString", queryString(col("u")), R.queryString(col("u"))),
      ("fragment", fragment(col("u")), R.fragment(col("u"))),
      ("extractURLParameter", extractURLParameter(col("u"), "q"),
        R.extractURLParameter(col("u"), "q")),
      ("cutQueryStringAndFragment", cutQueryStringAndFragment(col("u")),
        R.cutQueryStringAndFragment(col("u"))),
      ("cutQueryString", cutQueryString(col("u")), R.cutQueryString(col("u"))),
      ("cutFragment", cutFragment(col("u")), R.cutFragment(col("u"))),
      ("protocol", protocol(col("u")), R.protocol(col("u"))))
    pairs.foreach { case (name, kernel, reference) =>
      val rows = df.select(col("u"), kernel.as("k"), reference.as("r")).collect()
      rows.foreach { row =>
        assert(row.getString(1) == row.getString(2),
          s"$name diverged on '${row.getString(0)}': " +
            s"kernel='${row.getString(1)}' regex='${row.getString(2)}'")
      }
    }
  }

  test("interpreted eval ≡ codegen (direct expression eval) and null propagates") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val u = "https://user@www.a.co.uk:80/p?q=1#f"
    (0 to 15).foreach { mode =>
      val e = UrlKernels.UrlExtract(
        Literal(UTF8String.fromString(u)), mode)
      assert(e.eval(null) != null) // accessors never return null on non-null input
    }
    assert(UrlKernels.UrlExtract(
      Literal(null, org.apache.spark.sql.types.StringType), 1).eval(null) == null)
    assert(UrlKernels.UrlExtractParam(
      Literal(UTF8String.fromString(u)), "q").eval(null) ==
      UTF8String.fromString("1"))
  }

  test("canonicalizeUrl kernel ≡ the regex/HOF composition bit-for-bit") {
    val rnd = new scala.util.Random(28)
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.length))
    def synthCanon(): String = {
      val scheme = pick(Seq("HTTP://", "https://", "FTP://", "", "1x://"))
      val host = pick(Seq("Shop1.Example.COM", "h", "WWW.X.org", "ĸÖLN.de",
        "h.example.com", "10.0.0.1", ""))
      val port = pick(Seq("", ":80", ":443", ":8080", ":80x", ":"))
      val path = pick(Seq("", "/", "/p/5", "/p/5//", "/a//b///", "/Ä/Ö/"))
      val q = pick(Seq("", "?", "?b=2&utm_source=x", "?utm_=1&a=2",
        "?ref=x&b=1&a=2", "?fbclid=z", "?b=2&b=1&B=3", "?utm_A=1&gclid=9",
        "?msclkid=7&x=ä", "?a=1&&b=2&", "?=v&a"))
      val f = pick(Seq("", "#frag", "#a#b", "#?q=9"))
      pick(Seq("", " ", "  ")) + scheme + host + port + path + q + f +
        pick(Seq("", " ", " \t"))
    }
    val urls = (1 to 400).map(_ => synthCanon()) ++ Seq(
      "", " ", "HTTP://Shop1.Example.COM:80/p/5//?b=2&utm_source=x#frag",
      "https://h/?utm_source=", "http://h/?utm_=x", "http://h/?ref=",
      "http://h/?xref=1", "http://h:443", "http://h:80//",
      "http://h/p?utm_source=x\nmore#f", "http://h:80\n/p", "http://h/p/+/",
      "http://h/p?a=\u00e4&A=b", "\thttp://h/p")
    val df = urls.toDF("u")
    val rows = df.select(col("u"),
        graft.operators.TextAnalysis.canonicalizeUrl(col("u")).as("k"),
        canonicalizeUrlRef(col("u")).as("r"))
      .collect()
    rows.foreach { row =>
      assert(row.getString(1) == row.getString(2),
        s"canonicalizeUrl diverged on '${row.getString(0)}': " +
          s"kernel='${row.getString(1)}' regex='${row.getString(2)}'")
    }
  }

  test("extractURLParameter rejects non-word names (unchanged contract)") {
    val e = intercept[IllegalArgumentException](
      UrlFunctions.extractURLParameter(col("u"), "a&b"))
    assert(e.getMessage.contains("[A-Za-z0-9_]+"))
  }

  /** The r15 regex/HOF composition `TextAnalysis.canonicalizeUrl`'s
    * kernel must match bit-for-bit — the equivalence reference.
    */
  private def canonicalizeUrlRef(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    val host = regexp_replace(
      lower(regexp_extract(rest, "^([^/?]*)", 1)), ":(80|443)$", "")
    val pathQ = regexp_replace(rest, "^[^/?]*", "")
    val rawPath = regexp_replace(
      regexp_extract(pathQ, "^([^?]*)", 1), "/+$", "")
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    val query = regexp_extract(pathQ, "\\?(.*)$", 1)
    val params = filter(split(query, "&"),
      p => p =!= "" && !p.rlike(graft.operators.TextAnalysis.TrackingParamPattern))
    val q = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }
}
