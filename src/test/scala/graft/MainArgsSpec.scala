package graft

import org.scalatest.funsuite.AnyFunSuite

/** A main called with malformed arguments fails with its usage line
  * before it starts a session.
  */
class MainArgsSpec extends AnyFunSuite {

  private def usageError(main: Array[String] => Unit, args: String*): String =
    intercept[IllegalArgumentException](main(args.toArray)).getMessage

  test("Verify rejects anything but <sfDir> <outDir> [query,…]") {
    Seq(Seq("/sf"), Seq("/sf", "/out", "q1", "extra"), Nil).foreach { args =>
      assert(usageError(Verify.main, args: _*).startsWith("usage: Verify"), args)
    }
  }

  test("Probe rejects a missing query list, extra arguments and a bad rep count") {
    Seq(Seq("/sf"), Seq("/sf", "q1", "2", "x"), Seq("/sf", "q1", "two"),
        Seq("/sf", "q1", "0"), Seq("/sf", "q1", "--plans")).foreach { args =>
      assert(usageError(tools.Probe.main, args: _*).startsWith("usage: Probe"), args)
    }
  }
}
