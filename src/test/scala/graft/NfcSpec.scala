package graft

import graft.functions.NfcUtil
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Native graft_nfc expression: UAX#15 NFC semantics, codegen/interpreted
  * parity, and the zero-copy already-normalized fast path.
  */
class NfcSpec extends SparkSpec {
  import spark.implicits._

  test("graft_nfc: composes decomposed sequences; idempotent; ASCII untouched") {
    val df = Seq(
      "café",        // e + combining acute -> é
      "café",         // already composed
      "plain ascii",
      "Å",           // A + ring -> Å
      "😀é" // non-BMP emoji (surrogate pair) + decomposed é
    ).toDF("s")
    val got = df.select(expr("graft_nfc(s)").as("n"),
      length(col("s")).as("lr"), length(expr("graft_nfc(s)")).as("ln"))
      .as[(String, Int, Int)].collect()
    assert(got(0)._1 == "café" && got(0)._2 == 5 && got(0)._3 == 4)
    assert(got(1)._1 == "café" && got(1)._3 == 4)
    assert(got(2)._1 == "plain ascii")
    assert(got(3)._1 == "Å")
    assert(got(4)._1 == "😀é", "non-BMP text must survive NFC")
    // idempotence: nfc(nfc(s)) == nfc(s)
    val twice = df.select(expr("graft_nfc(graft_nfc(s)) = graft_nfc(s)"))
      .as[Boolean].collect()
    assert(twice.forall(identity))
  }

  test("graft_nfc: null propagates; already-NFC input is returned zero-copy") {
    val df = Seq(Option("x"), None).toDF("s")
    val got = df.select(expr("graft_nfc(s)")).collect()
    assert(got.exists(_.isNullAt(0)))
    // fast path: the SAME UTF8String instance comes back (no allocation)
    val in = UTF8String.fromString("already normalized ascii")
    assert(NfcUtil.nfc(in) eq in)
    val dec = UTF8String.fromString("é")
    assert(NfcUtil.nfc(dec).toString == "é")
  }
}
