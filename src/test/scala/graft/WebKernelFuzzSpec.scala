package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.WebCuration

/** Fuzz the html/url string kernels against an independent driver-side
  * model (java.util.regex / plain String ops — the same semantics the
  * Column pipeline claims, evaluated OUTSIDE Spark): adversarial
  * fragments — unterminated tags, bare `<`/`&`, entity debris,
  * lookalike params (`href=`, `prefix=`, path `/ref=x`), mixed-case
  * schemes/hosts, non-default ports — composed by a seeded LCG (the
  * pickle-fuzz discipline). Catches codegen/escaping slips in
  * the Column spelling that the fixture-shaped oracle can never reach,
  * and pins NULL-in → NULL-out.
  */
class WebKernelFuzzSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // --- deterministic generator ------------------------------------------
  private var seed = 0x9e3779b97f4a7c15L
  private def nextInt(bound: Int): Int = {
    seed = seed * 6364136223846793005L + 1442695040888963407L
    (((seed >>> 33) % bound + bound) % bound).toInt
  }
  private def pick[A](xs: Seq[A]): A = xs(nextInt(xs.length))

  // --- independent models (java.util.regex, driver-side) ----------------
  private def modelStrip(html: String): String = {
    val noScript = html
      .replaceAll("(?s)<script[^>]*>.*?</script>", " ")
      .replaceAll("(?s)<style[^>]*>.*?</style>", " ")
    val noTags = noScript.replaceAll("<[^>]*>", " ")
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (s, (a, b)) => s.replace(a, b) }
    unescaped.replaceAll("\\s+", " ").trim
  }

  private def modelCanon(url: String): String = {
    val u1 = url.replaceAll("#[\\s\\S]*", "")
    val m = java.util.regex.Pattern.compile("^[A-Za-z]+://[^/?#]*").matcher(u1)
    val sh = if (m.find()) m.group() else ""
    val rest = u1.substring(sh.length)
    val host = sh.toLowerCase
      .replaceAll("^(https://[^:/]*):443\\z", "$1")
      .replaceAll("^(http://[^:/]*):80\\z", "$1")
      .replace("://www.", "://")
    val rest2 = rest
      .replaceAll("([?&])(utm_[a-z0-9]+|ref)=[^&]*", "$1")
      .replaceAll("&{2,}", "&").replaceAll("\\?&", "?")
      .replaceAll("[?&]+\\z", "")
    host + rest2
  }

  // --- adversarial corpora ----------------------------------------------
  private def genHtml(): String = {
    val frags = Seq(
      "<p>", "</p>", "<div class=\"x\">", "<br/>", "< 2;", "<", ">",
      "<script>a < b && c > d</script>", "<script src=\"x\">v=1</script>",
      "<style>.a{}</style>", "<SCRIPT>shout</SCRIPT>", "<unclosed",
      "<script>\nvar nl = 1 < 2;\n</script>", "<style>\n.b{}\n</style>",
      "<script>x</style>", "<style>y</script>", "line\nbreak",
      "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;", "&amp;lt;",
      "&bogus;", "&", "&&amp;", "word", "two  spaces", "\ttab\t",
      "trailing ", " leading", "", "mixed <b>bold</b> text",
      "ends with newline\n", "<p>nl</p>\n")
    (0 until (2 + nextInt(8))).map(_ => pick(frags)).mkString(" ")
  }

  private def genUrl(): String = {
    val scheme = pick(Seq("http://", "https://", "HTTPS://", "HtTp://", "ftp://", ""))
    val www = pick(Seq("www.", "WWW.", ""))
    val host = pick(Seq("Example.COM", "a.b.c", "xn--x", "localhost"))
    val port = pick(Seq(":443", ":80", ":8080", ""))
    val path = pick(Seq("", "/", "/Docs/X", "/ref=abc", "/a%20b", "/UPPER/case"))
    val query = pick(Seq("", "?id=1", "?utm_source=f", "?href=x&utm_a=1&id=2",
      "?prefix=keep&ref=drop", "?ref=1&ref=2", "?utm_x=1&utm_y=2",
      "?id=1&", "?&id=2", "?utm_only=z"))
    // trailing newline: the java-$-vs-RE2-$ divergence case — the
    // kernel uses \z/[\s\S] spellings precisely so this cannot split
    // the engines
    val frag = pick(Seq("", "#f", "#a#b", "#utm_source=not-a-param", "\n", "#f\n"))
    scheme + www + host + port + path + query + frag
  }

  private def runKernel(inputs: Seq[String],
      kernel: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[String] = {
    import spark.implicits._
    // one job for the whole corpus — fuzz scale must not mean job scale
    inputs.toDF("s").select(kernel(col("s")).as("out"))
      .collect().map(_.getString(0)).toSeq
  }

  test("stripHtml == driver-side model on 400 adversarial strings") {
    val inputs = (0 until 400).map(_ => genHtml())
    val got = runKernel(inputs, WebCuration.stripHtml)
    inputs.zip(got).foreach { case (in, out) =>
      assert(out == modelStrip(in), s"input: $in")
    }
  }

  test("canonicalizeUrl == driver-side model on 400 adversarial strings") {
    val inputs = (0 until 400).map(_ => genUrl())
    val got = runKernel(inputs, WebCuration.canonicalizeUrl)
    inputs.zip(got).foreach { case (in, out) =>
      assert(out == modelCanon(in), s"input: $in")
    }
  }

  test("both kernels are NULL-in NULL-out") {
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("<p>x</p>")).toDF("s")
    val r = df.select(
      WebCuration.stripHtml(col("s")).as("a"),
      WebCuration.canonicalizeUrl(col("s")).as("b")).collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1))
    assert(r(1).getString(0) == "x")
  }
}
