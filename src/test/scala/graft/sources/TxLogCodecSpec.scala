package graft.sources

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxLog._

/** The log-line codec: every action round-trips exactly, whatever its
  * strings hold; encoding is byte-stable; legacy shapes still decode; and
  * anything else is an error, never a skipped line. */
class TxLogCodecSpec extends AnyFunSuite {

  /** Strings built from the fragments a hand-rolled JSON writer gets
    * wrong: every control character, quotes, backslashes, JSON
    * punctuation, non-ASCII and surrogate pairs. */
  private val nasty: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.choose('\u0000', '\u001f').map(_.toString),
    Gen.oneOf("\"", "\\", "\\\"", "\\\\", "/", "{", "}", "[", "]", ",", ":",
      "\u007f", "é", " ", "😀", "𝄞"),
    Gen.alphaNumStr)).map(_.mkString)

  private val long: Gen[Long] =
    Gen.oneOf(Gen.choose(Long.MinValue, Long.MaxValue), Gen.choose(-2L, 2L))

  private val colStat: Gen[ColStat] = for {
    c <- nasty; mn <- nasty; mx <- nasty; n <- Gen.option(long)
  } yield ColStat(c, mn, mx, n)

  private val action: Gen[Action] = Gen.oneOf(
    for {
      p <- nasty; r <- Gen.option(long); s <- Gen.option(long)
      st <- Gen.listOf(colStat); dv <- Gen.option(Gen.zip(nasty, long))
    } yield Add(p, r, s, st, dv.map { case (dp, c) => Dv.Ref(dp, c) }),
    Gen.zip(nasty, Gen.oneOf(true, false)).map { case (p, a) => Remove(p, a) },
    nasty.map(Cdc),
    Gen.zip(nasty, long, Gen.option(long)).map { case (o, v, ts) => Meta(o, v, ts) },
    Gen.zip(nasty, long).map { case (a, v) => Txn(a, v) },
    nasty.map(Schema),
    Gen.listOf(nasty).map(Parts),
    Gen.listOf(Gen.zip(nasty, nasty)).map(Colmap),
    Gen.zip(Gen.listOf(nasty), Gen.listOf(nasty))
      .map { case (r, w) => Protocol(r.toSet, w.toSet) },
    Gen.zip(nasty, nasty).map { case (n, e) => Constraint(n, e) },
    nasty.map(DropConstraint),
    Gen.zip(nasty, nasty).map { case (n, e) => Gencol(n, e) },
    nasty.map(DropGencol))

  test("decode(encode(a)) == a for arbitrary actions; no line holds a raw newline") {
    val prop = Prop.forAll(action) { a =>
      val line = encode(a)
      !line.exists(c => c == '\n' || c == '\r') && decode(line) == a
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("encode writes the established bytes, field order included") {
    val st = Seq(ColStat("k", "0", "99", Some(0L)), ColStat("t", "a", "z", None))
    val cases = Seq(
      Add("/d/p.parquet") -> """{"add":{"path":"/d/p.parquet"}}""",
      Add("/d/p.parquet", Some(3L), Some(512L), st, Some(Dv.Ref("/d/x.dv", 2L))) ->
        ("""{"add":{"path":"/d/p.parquet","rows":3,"size":512,"stats":[""" +
          """{"col":"k","min":"0","max":"99","nulls":0},{"col":"t","min":"a","max":"z"}],""" +
          """"dv":{"path":"/d/x.dv","card":2}}}"""),
      Remove("/d/p.parquet") -> """{"remove":{"path":"/d/p.parquet"}}""",
      Remove("/d/p.parquet", allDeleted = true) ->
        """{"remove":{"path":"/d/p.parquet","allDeleted":true}}""",
      Cdc("/c/p.parquet") -> """{"cdc":{"path":"/c/p.parquet"}}""",
      Meta("merge", 7L, Some(1700000000000L)) ->
        """{"meta":{"op":"merge","version":7,"ts":1700000000000}}""",
      Meta("checkpoint", 10L, None) -> """{"meta":{"op":"checkpoint","version":10}}""",
      Txn("app", 4L) -> """{"txn":{"app":"app","version":4}}""",
      Schema("""{"type":"struct"}""") -> """{"schema":"{\"type\":\"struct\"}"}""",
      Parts(Seq("a", "b")) -> """{"parts":["a","b"]}""",
      Colmap(Seq("k" -> "k", "v" -> "c_v")) ->
        """{"colmap":[{"n":"k","p":"k"},{"n":"v","p":"c_v"}]}""",
      Protocol(Set("b", "a"), Set.empty) -> """{"protocol":{"rf":["a","b"],"wf":[]}}""",
      Constraint("pos", "k > 0") -> """{"constraint":{"name":"pos","expr":"k > 0"}}""",
      DropConstraint("pos") -> """{"dropConstraint":{"name":"pos"}}""",
      Gencol("g", "length(v)") -> """{"gencol":{"name":"g","expr":"length(v)"}}""",
      DropGencol("g") -> """{"dropGencol":{"name":"g"}}""")
    cases.foreach { case (a, want) => assert(encode(a) == want) }
  }

  test("legacy shapes decode: single-object stats, stats without nulls, meta without ts") {
    assert(decode("""{"add":{"path":"/p","stats":{"col":"k","min":"1","max":"2"}}}""") ==
      Add("/p", stats = Seq(ColStat("k", "1", "2", None))))
    assert(decode("""{"meta":{"op":"append","version":3}}""") == Meta("append", 3L, None))
    // fields are matched by name, not position
    assert(decode("""{"add":{"rows":1,"path":"/p"}}""") == Add("/p", rows = Some(1L)))
  }

  test("anything else is an error, never a skipped line") {
    Seq(
      "",
      """{"add":{"path":"/p","rows":1""",                 // truncated
      """{"add":{"path":"/p"}} {"add":{"path":"/q"}}""",   // two actions on a line
      """{"add":{"path":"/p"},"remove":{"path":"/p"}}""",  // two kinds in one action
      """{"future":{"x":1}}""",                            // unknown kind
      """{"add":{"path":"/p","color":"red"}}""",           // unknown field
      """{"add":{"rows":1}}""",                            // missing path
      """{"add":{"path":"/p","rows":"1"}}""",              // wrong type
      """{"meta":{"version":1}}""",                        // missing op
      """{"dropConstraint":{"name":"c","expr":"x"}}""",    // expr on a drop
      """{"protocol":{"rf":["a"]}}"""                      // missing wf
    ).foreach { l =>
      intercept[Exception](decode(l))
    }
  }
}
