package perfbench

/** Spark-free harness check used by `perfbench/tests`: one pass of three
  * calls, the middle one throwing, timed through the same
  * [[Harness.timedCall]] the benchmark uses. Prints the run record.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val rec = new Recorder("selftest", trace = true)
    val calls = Seq(
      Harness.Call("ok_before", "ops.Test", (_, _) => ()),
      Harness.Call("boom", "ops.Test",
        (_, _) => throw new IllegalStateException("deliberate failure")),
      Harness.Call("ok_after", "ops.Test", (_, _) => ()))
    rec.span("pass0", "pass", "selftest/p0", null, "pass") { passId =>
      calls.foreach(c =>
        Harness.timedCall(rec, c, 0, Some(passId), "selftest/p0", null, ""))
    }
    println(rec.record(Map.empty, null))
  }
}
