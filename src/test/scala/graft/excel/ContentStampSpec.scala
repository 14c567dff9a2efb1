package graft.sources.excel

import org.scalatest.funsuite.AnyFunSuite

/** Version-stamp semantics under CRC degradation (ADVICE r12): a stamp
  * whose content CRC cannot be read must become UNVERIFIABLE —
  * never-equal to any other stamp — rather than degrading to an empty
  * hash that compares EQUAL to another failure and silently disables
  * the in-place-rewrite detection the stamp's CRC exists for.
  */
class ContentStampSpec extends AnyFunSuite {

  test("two hashed stamps of an unreadable file never compare equal") {
    val missing = new java.io.File(
      java.nio.file.Files.createTempDirectory("stamp").toFile,
      "never_written.xlsx")
    val a = ExcelScan.versionStamp(missing)
    val b = ExcelScan.versionStamp(missing)
    assert(a != b,
      "a failed CRC must stamp a per-call sentinel: two failures " +
        "comparing equal would silently disable rewrite detection")
  }

  test("a readable file's stamp is stable and changes with its content") {
    val dir = java.nio.file.Files.createTempDirectory("stamp")
    val f = new java.io.File(dir.toFile, "wb.bin")
    java.nio.file.Files.write(f.toPath, Array.fill(1024)(7.toByte))
    val mtime = f.lastModified()
    val s1 = ExcelScan.versionStamp(f)
    assert(s1 == ExcelScan.versionStamp(f),
      "stamping an unchanged file is deterministic")
    // same length, same inode, mtime forced back: only the CRC differs
    val out = new java.io.FileOutputStream(f)
    try out.write(Array.fill(1024)(8.toByte)) finally out.close()
    assert(f.setLastModified(mtime))
    val s2 = ExcelScan.versionStamp(f)
    assert((s2._1, s2._2) == (s1._1, s1._2))
    assert(s2 != s1, "the content CRC must tell the rewrite apart")
  }
}
