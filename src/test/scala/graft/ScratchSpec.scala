package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class ScratchSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("withScratch: the root exists inside the body and is gone after it returns") {
    var seen: Path = null
    val r = Scratch.withScratch("graft_spec_") { root =>
      seen = root
      Files.createDirectories(root.resolve("out/a"))
      Files.write(root.resolve("out/a/f.txt"), Array[Byte](1, 2, 3))
      assert(Files.isDirectory(root))
      42
    }
    assert(r == 42)
    assert(seen != null && !Files.exists(seen))
  }

  test("withScratch: the root is gone after the body throws, and that exception propagates") {
    final class Boom extends RuntimeException("boom")
    val thrown = new Boom
    var seen: Path = null
    val e = intercept[Boom] {
      Scratch.withScratch("graft_spec_") { root =>
        seen = root
        Files.write(root.resolve("f.txt"), Array[Byte](1))
        throw thrown
      }
    }
    assert(e eq thrown)
    assert(seen != null && !Files.exists(seen))
  }

  test("drain: returns a terminated query whose batches covered every input file") {
    import spark.implicits._
    Scratch.withScratch("graft_spec_") { root =>
      val in = s"$root/in"
      (0 until 4).foreach { f =>
        (f * 10 until f * 10 + 10).toDF("id").coalesce(1)
          .write.mode("append").parquet(in)
      }
      val stream = spark.readStream.schema(spark.read.parquet(in).schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = Scratch.drain(stream, s"$root/ckpt") { (batch, id) =>
        batches.add(id)
        batch.as[Int].collect().foreach(i => ids.add(i.toLong))
      }
      assert(!q.isActive)
      assert(q.exception.isEmpty)
      assert(batches.size == 4)
      assert(ids.toArray.map(_.asInstanceOf[Long]).sorted.toSeq == (0L until 40L))
      assert(q.recentProgress.map(_.numInputRows).sum == 40L)
    }
  }

  test("deleteTree: removes a nested tree; a no-op on an absent path") {
    val root = Files.createTempDirectory("graft_spec_")
    Files.createDirectories(root.resolve("a/b/c"))
    Files.write(root.resolve("a/b/c/f.txt"), Array[Byte](1))
    Scratch.deleteTree(root)
    assert(!Files.exists(root))
    Scratch.deleteTree(root)
    Scratch.deleteTree(root, bestEffort = true)
    assert(!Files.exists(root))
  }
}
