package graft

import org.apache.spark.sql.GraftColumnBridge.{compress, decompress}

class CodecSpec extends SparkSpec {

  test("the shared test session moves its blocks in zstd") {
    assert(spark.sparkContext.getConf.get("spark.io.compression.codec") ===
      "zstd")
    assert(org.apache.spark.SparkEnv.get.conf
      .get("spark.io.compression.codec") === "zstd")
  }

  test("compress/decompress round-trip an empty, a 1-byte and a 1 MB " +
      "array, on the driver and in a task") {
    val rng = new scala.util.Random(5)
    val arrays = Seq(Array.emptyByteArray, Array(42.toByte),
      Array.fill(1 << 20)(rng.nextInt(256).toByte))
    def roundTrip(a: Array[Byte]): Array[Byte] =
      decompress(compress(_.write(a)))(_.readAllBytes())
    arrays.foreach(a => assert(roundTrip(a).sameElements(a), a.length))
    val inTask = spark.sparkContext.parallelize(arrays.indices, 3)
      .map(i => roundTrip(arrays(i)).sameElements(arrays(i))).collect()
    assert(inTask.forall(identity))
    // a compressible megabyte does compress
    assert(compress(_.write(new Array[Byte](1 << 20))).length < 1024)
  }
}
