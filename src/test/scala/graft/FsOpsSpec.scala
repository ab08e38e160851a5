package graft

import java.nio.file.Files

import graft.ops.FsOps

/** The recursive-delete helper every mart commit, artifact install and
  * scratch sweep goes through. Pure filesystem — no SparkSession.
  */
class FsOpsSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("rmTree deletes a symlink as itself: a linked outside dir survives, the tree is gone") {
    val root = Files.createTempDirectory("graft_fsops_")
    try {
      val outside = Files.createDirectory(root.resolve("outside"))
      val precious = Files.write(outside.resolve("precious.txt"), "keep".getBytes("UTF-8"))
      val tree = Files.createDirectory(root.resolve("tree"))
      Files.write(tree.resolve("own.txt"), "drop".getBytes("UTF-8"))
      Files.createSymbolicLink(tree.resolve("link"), outside)
      FsOps.rmTree(tree.toFile)
      assert(!Files.exists(tree, java.nio.file.LinkOption.NOFOLLOW_LINKS),
        "the tree, its own file and the link itself must be gone")
      assert(Files.exists(precious),
        "a file reached only through a symlink lies outside the tree and must survive")
    } finally FsOps.rmTree(root.toFile)
  }
}
