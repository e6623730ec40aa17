package graft.sink

import java.nio.file.Files

import graft.template.PartitionField

/** The declared partition spec and its history are JSON files the table
  * re-reads on every write: a column name with a quote or a backslash
  * must not corrupt them.
  */
class PartitionSpecFileSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("a spec whose column names need escaping survives write, evolve and read") {
    val root = Files.createTempDirectory("graft_pspec").toString
    val first = Seq(PartitionField("a\"b", "identity"))
    DeclaredPartitionSpec.write(root, first)
    assert(DeclaredPartitionSpec.read(root) == first)
    val second = Seq(PartitionField("c\\d", "bucket", 4), PartitionField("[e]", "day"))
    DeclaredPartitionSpec.write(root, second)
    assert(DeclaredPartitionSpec.read(root) == second)
    assert(DeclaredPartitionSpec.readAll(root).toSet == (first ++ second).toSet)
  }
}
