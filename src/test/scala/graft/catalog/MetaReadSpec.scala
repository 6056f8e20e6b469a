package graft.catalog

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path

import graft.SparkTestBase

/** A point read resolves the bucket layout (count and prefix rule) from
  * the ONE meta snapshot it already holds: the `meta.json` pointer is read
  * a constant number of times per call, however many ids it names. */
class MetaReadSpec extends SparkTestBase {
  import spark.implicits._

  /** [[StoreIO.Local]] with a count of pointer reads. */
  private final class CountingIO(inner: StoreIO) extends StoreIO {
    val pointerReads = new AtomicInteger(0)
    def readBytes(p: Path) = {
      if (p.getName == "meta.json") pointerReads.incrementAndGet()
      inner.readBytes(p)
    }
    def createExclusive(p: Path, b: Array[Byte]) = inner.createExclusive(p, b)
    def createDirExclusive(p: Path) = inner.createDirExclusive(p)
    def exists(p: Path) = inner.exists(p)
    def isDir(p: Path) = inner.isDir(p)
    def mkdirs(p: Path) = inner.mkdirs(p)
    def list(p: Path) = inner.list(p)
    def deleteRecursively(p: Path) = inner.deleteRecursively(p)
    def deleteIfExists(p: Path) = inner.deleteIfExists(p)
    def writeBytes(p: Path, b: Array[Byte]) = inner.writeBytes(p, b)
    def replace(src: Path, dst: Path) = inner.replace(src, dst)
    def moveDir(src: Path, dst: Path) = inner.moveDir(src, dst)
    def modTime(p: Path) = inner.modTime(p)
    def carryFile(src: Path, dst: Path) = inner.carryFile(src, dst)
  }

  test("get(ids) and leafDataDirsForIds read meta.json a constant number of times") {
    val root = tmpDir("meta-reads")
    new CollectionCatalog(spark, root, numBuckets = 8).getOrCreateCollection("c")
      .add((0 until 64).map(i => (s"id$i", s"doc $i", Seq(i.toFloat, 1f)))
        .toDF("id", "document", "embedding"))
    val io = new CountingIO(new StoreIO.Local)
    val c = new Collection(spark, io, new Path(root, "c"), 1L << 20)
    val v = c.meta.version
    def reads(call: => Any): Int = {
      val before = io.pointerReads.get()
      call
      io.pointerReads.get() - before
    }
    val ids = (0 until 64).map(i => s"id$i")
    for ((what, call) <- Seq[(String, Seq[String] => Any)](
        "get" -> (xs => c.get(ids = xs)),
        "leafDataDirsForIds" -> (xs => c.leafDataDirsForIds(v, xs)))) {
      val one = reads(call(ids.take(1)))
      val all = reads(call(ids))
      assert(one <= 1 && all == one,
        s"$what: $one pointer read(s) for 1 id, $all for ${ids.size} ids")
    }
    // the pruned answers stay whole
    assert(c.get(ids = ids).count() == 64)
  }
}
