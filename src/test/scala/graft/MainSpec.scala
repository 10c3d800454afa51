package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The CLI's argument and config checks, which run before any session. */
class MainSpec extends AnyFunSuite {

  test("Main refuses missing sections and unknown dialects (S4/F14)") {
    val dir = Files.createTempDirectory("main_cfg")
    val ini = dir.resolve("config.ini")
    Files.writeString(ini, "[Weird]\ntype = oracle\nserver = x\ndatabase = y\n")
    def refusal(args: String*): String =
      intercept[IllegalArgumentException](Main.main(args.toArray)).getMessage
    val maps = Seq(dir.resolve("TableMap.csv").toString, dir.resolve("FieldMap.csv").toString)
    assert(refusal(Seq(ini.toString, "NoSuch", dir.toString) ++ maps: _*)
      .contains("no [NoSuch] section"))
    val unknownType = refusal(Seq(ini.toString, "Weird", dir.toString) ++ maps: _*)
    assert(unknownType.contains("[Weird]") && unknownType.contains("names no known database"))
    assert(refusal(ini.toString, "Weird").contains("usage: Main"))
  }
}
