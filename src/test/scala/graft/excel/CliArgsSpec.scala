package graft.excel

import org.scalatest.funsuite.AnyFunSuite

import graft.ExcelToParquet
import graft.ExcelToParquet.Options

/** The CLI's flag parsing (`ExcelToParquet.parseArgs`): the reference's
  * flags plus `--sheet-partitions`, and a clear error for a bad command
  * line (the CLI prints it as `Error: <message>` and exits 1).
  */
class CliArgsSpec extends AnyFunSuite {

  private def parse(args: String*): Options = ExcelToParquet.parseArgs(args)

  private def error(args: String*): String =
    intercept[IllegalArgumentException](parse(args: _*)).getMessage

  test("every flag, short and long forms, defaults for the rest") {
    assert(parse("-i", "a.xlsx", "-o", "out") == Options("a.xlsx", "out"))
    assert(parse("--input", "a.xlsx", "--output", "out", "--sheet-name", "S",
      "--sheet-index", "2", "--skip-rows", "3", "--batch-size", "100",
      "--sheet-partitions", "4") ==
      Options("a.xlsx", "out", Some("S"), Some(2), 3, 100, sheetPartitions = 4))
  }

  test("a flag given last without its value names the flag") {
    assert(error("-i") == "missing value for -i")
    assert(error("-i", "a.xlsx", "-o") == "missing value for -o")
    assert(error("-i", "a.xlsx", "-o", "out", "--batch-size") ==
      "missing value for --batch-size")
  }

  test("unknown flags and missing input/output are errors") {
    assert(error("-i", "a.xlsx", "-o", "out", "--write-partitions", "4") ==
      "Unknown argument: --write-partitions")
    assert(error("-o", "out") == "missing -i/--input")
    assert(error("-i", "a.xlsx") == "missing -o/--output")
  }
}
