package graft

import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

/** The GramHash native kernels (graft_gram_h6 / graft_win_min /
  * graft_phash_pix) must be RESULT-IDENTICAL to the interpreted
  * `transform(sequence(...))` SQL templates they replaced in x24/x25, c15
  * and m10/m11 — gram windows, edge rules (short docs → empty / single
  * global min) and every md5-derived value. Kernel and template run side
  * by side on the same rows; any drift fails here before it can touch an
  * oracle hash.
  */
class GramHashSpec extends AnyFunSuite with SparkTestBase {

  private def assertSameArrays(rows: Array[org.apache.spark.sql.Row]): Unit = {
    assert(rows.nonEmpty)
    rows.foreach { r =>
      var i = 0
      while (i < r.length) {
        assert(r.isNullAt(i) == r.isNullAt(i + 1), s"null flags differ at $i: $r")
        if (!r.isNullAt(i))
          assert(r.getSeq[Long](i) == r.getSeq[Long](i + 1), s"arrays differ at $i: $r")
        i += 2
      }
    }
  }

  // the x24/x25 hs template (k-gram md5-prefix hashes, full windows only)
  private def hsTpl(k: Int, ws: String = "ws") =
    s"""CASE WHEN size($ws) >= $k
        THEN transform(sequence(0, size($ws) - $k),
               i -> cast(conv(substr(md5(array_join(slice($ws, i + 1, $k), ' ')), 1, 6), 16, 10) as bigint))
        ELSE cast(array() as array<bigint>) END"""

  // the x24/x25 wins template (window-of-w minima with the short-doc rule)
  private def winsTpl(w: Int, hs: String) =
    s"""CASE WHEN size($hs) >= $w
        THEN transform(sequence(0, size($hs) - $w), j -> array_min(slice($hs, j + 1, $w)))
        WHEN size($hs) >= 1 THEN array(array_min($hs))
        ELSE cast(array() as array<bigint>) END"""

  test("graft_gram_h6 equals the x24 gram-hash template (salt '') and the c15 salted form") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val docs = Seq.tabulate(60) { i =>
      val n = rnd.nextInt(40) // includes 0/1/2-word shorties below every k
      Seq.fill(n)(s"w${rnd.nextInt(30)}").mkString(" ")
    } :+ "" :+ "one" :+ "a b"
    val df = docs.toDF("text").selectExpr("split(text, ' ') AS ws")
    Seq(3, 5).foreach { k =>
      assertSameArrays(
        df.select(
          expr(s"graft_gram_h6(ws, $k, '')"),
          expr(hsTpl(k))
        ).collect())
    }
    // c15's salted boundary-gram form: md5(concat(gram, '|cdc'))
    val salted =
      s"""CASE WHEN size(ws) >= 5
          THEN transform(sequence(0, size(ws) - 5),
                 i -> cast(conv(substr(md5(concat(array_join(slice(ws, i + 1, 5), ' '), '|cdc')), 1, 6), 16, 10) as bigint))
          ELSE cast(array() as array<bigint>) END"""
    assertSameArrays(
      df.select(expr("graft_gram_h6(ws, 5, '|cdc')"), expr(salted)).collect())
  }

  test("NULL ws: the coalesce'd call-site form preserves the template's empty-array rule") {
    // The kernel itself is null-intolerant (NULL array in → NULL out), but
    // the x24/x25 templates' CASE returned an EMPTY array for a NULL text
    // (size(NULL) never satisfies >= k) — so the call sites wrap the input
    // in coalesce(ws, array()) to pin the template's semantics (r19 ADVICE).
    val df = spark.sql(
      "SELECT cast(null as array<string>) AS ws UNION ALL SELECT split('a b c d', ' ') AS ws")
    assertSameArrays(
      df.select(
        expr("graft_gram_h6(coalesce(ws, array()), 3, '')"),
        expr(hsTpl(3))
      ).collect())
    // and the raw kernel's null-intolerance is intentional, not accidental
    assert(df.select(expr("graft_gram_h6(ws, 3, '')")).collect().exists(_.isNullAt(0)))
  }

  test("graft_win_min equals the x24 window-minima template including both edge rules") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val df = (Seq.tabulate(50)(_ => Seq.fill(rnd.nextInt(20))(rnd.nextLong() & 0xffffffL)) ++
      Seq(Seq.empty[Long], Seq(7L), Seq(3L, 1L, 2L)))
      .toDF("hs")
    assertSameArrays(
      df.select(expr("graft_win_min(hs, 4)"), expr(winsTpl(4, "hs"))).collect())
  }

  test("graft_gram_h14 equals the c28 per-position 14-hex gram-key template") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val docs = Seq.tabulate(40) { _ =>
      Seq.fill(rnd.nextInt(30))(s"w${rnd.nextInt(20)}").mkString(" ")
    } :+ "" :+ "a b c d" :+ "a b c d e" :+ "a b c d e f"
    val df = docs.toDF("text").selectExpr("split(text, ' ') AS ws")
    // c28's spelled-out form: concat_ws over the 1-based k-slice, first 14
    // md5 hex digits as a long, one per full window
    val tpl =
      """CASE WHEN size(ws) >= 5
          THEN transform(sequence(1, size(ws) - 4),
                 i -> cast(conv(substring(md5(concat_ws(' ', slice(ws, i, 5))), 1, 14), 16, 10) as bigint))
          ELSE cast(array() as array<bigint>) END"""
    assertSameArrays(df.select(expr("graft_gram_h14(ws, 5, '')"), expr(tpl)).collect())
  }

  test("graft_phash_bits / graft_band_keys / graft_flip_bits equal the m10/m11 templates") {
    import spark.implicits._
    val df = (Seq(0L, 1L, 63L, 64L, 12345L, 999999L) ++ Seq.tabulate(60)(i => i * 41L + 3))
      .toDF("src")
      .selectExpr("src", "src % 2 = 0 AS pert")
    // m10's spelled-out chain: perturbed pixels -> mean -> bits
    val pixTpl =
      """transform(graft_phash_pix(src), (x, i) ->
           (x + CASE WHEN pert AND i = cast(src % 64 AS int) THEN 128 ELSE 0 END) % 256)"""
    val bitsTpl =
      s"""transform($pixTpl, x ->
            CASE WHEN x > aggregate($pixTpl, 0L, (acc, y) -> acc + y) div 64 THEN 1L ELSE 0L END)"""
    assertSameArrays(
      df.select(
        expr("graft_phash_bits(src, IF(pert, cast(src % 64 AS int), -1))"),
        expr(bitsTpl)
      ).collect())
    // band keys over the kernel bits vs the spelled-out slice folds
    val bk = df.selectExpr("graft_phash_bits(src, -1) AS bits")
    assertSameArrays(
      bk.select(
        expr("graft_band_keys(bits)"),
        expr("""transform(sequence(0, 3), b ->
                  aggregate(slice(bits, b * 16 + 1, 16), 0L, (acc, x) -> acc * 2 + x))""")
      ).collect())
    // m11's flip geometry (array_contains semantics, distinct-by-odd-step)
    val fl = df.selectExpr(
      "graft_phash_bits(src, -1) AS bits",
      "cast(src % 12 + 1 as int) AS f",
      "cast(conv(substr(md5(concat(cast(src as string), '|fs')), 1, 4), 16, 10) as bigint) % 64 AS fstart",
      "2 * (cast(conv(substr(md5(concat(cast(src as string), '|st')), 1, 4), 16, 10) as bigint) % 32) + 1 AS fstep"
    )
    assertSameArrays(
      fl.select(
        expr("graft_flip_bits(bits, f, fstart, fstep)"),
        expr("""transform(sequence(0, 63), i ->
                  CASE WHEN array_contains(transform(sequence(0, f - 1),
                                             j -> cast((fstart + j * fstep) % 64 as int)), i)
                       THEN 1L - bits[i] ELSE bits[i] END)""")
      ).collect())
  }

  test("graft_flip_bits rejects a bit array that is not 64 elements long") {
    import spark.implicits._
    val df = Seq(Seq.fill(63)(1L)).toDF("bits")
    val err = intercept[Exception](df.select(expr("graft_flip_bits(bits, 3, 0L, 1L)")).collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(
      msgs.exists(m => m != null && m.contains("graft_flip_bits needs a 64-element bit array, got 63 elements")),
      s"unexpected error: $err")
  }

  test("graft_phash_pix equals the m11 pixel template, and m10's perturbed form composes identically") {
    import spark.implicits._
    val df = (Seq(0L, 1L, 63L, 64L, 12345L, 999999L) ++ Seq.tabulate(40)(i => i * 37L))
      .toDF("src")
      .selectExpr("src", "src % 2 = 0 AS pert")
    val plainTpl =
      """transform(sequence(0, 63), i ->
           cast(conv(substr(md5(concat(cast(src as string), '|px', cast(i div 8 as string))),
                      (i % 8) * 4 + 1, 2), 16, 10) as bigint) % 256)"""
    assertSameArrays(df.select(expr("graft_phash_pix(src)"), expr(plainTpl)).collect())
    val pertOld =
      """transform(sequence(0, 63), i ->
           (cast(conv(substr(md5(concat(cast(src as string), '|px', cast(i div 8 as string))),
                      (i % 8) * 4 + 1, 2), 16, 10) as bigint)
            + CASE WHEN pert AND i = cast(src % 64 AS int) THEN 128 ELSE 0 END) % 256)"""
    val pertNew =
      """transform(graft_phash_pix(src), (x, i) ->
           (x + CASE WHEN pert AND i = cast(src % 64 AS int) THEN 128 ELSE 0 END) % 256)"""
    assertSameArrays(df.select(expr(pertNew), expr(pertOld)).collect())
  }
}
