package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

/** The parquet format every versioned-table commit writes through:
  * stock parquet output plus, for each written file, one bloom sidecar
  * per column named in the [[GraftParquetFormat.ColumnsOpt]] write
  * option (physical names, in order). Each written row's
  * `xxhash64(col)` feeds a per-file filter sized from that file's own
  * row count, so the sidecar holds the same bits a
  * [[VersionedTable.buildBloomIndex]] backfill of the file would
  * build, without reading the file back. Sidecar `j` of part file `f`
  * is written as `f.j.bloom` beside it in the task's attempt
  * directory, so the output committer moves both together. Without
  * bloom columns the format is plain parquet. */
class GraftParquetFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val inner = super.prepareWrite(spark, job, options, dataSchema)
    val cols = options.get(GraftParquetFormat.ColumnsOpt).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
    if (cols.isEmpty) inner
    else {
      val fpp = options(GraftParquetFormat.FppOpt).toDouble
      new OutputWriterFactory {
        override def getFileExtension(ctx: TaskAttemptContext): String =
          inner.getFileExtension(ctx)
        override def newInstance(path: String, schema: StructType,
                                 ctx: TaskAttemptContext): OutputWriter =
          new GraftParquetFormat.BloomWriter(
            inner.newInstance(path, schema, ctx), path, schema, cols, fpp,
            ctx.getConfiguration)
      }
    }
  }
}

object GraftParquetFormat {
  /** Write option: comma-separated physical columns to index. */
  val ColumnsOpt = "graft.bloom.columns"
  /** Write option: the index false-positive rate. */
  val FppOpt = "graft.bloom.fpp"

  /** Item cap of one file's filter (Spark's runtime bloom filter
    * default): larger files share the cap's sizing. */
  val maxItems = 4000000L

  /** Filter size for `items` rows at `fpp`, capped at 2^26 bits. */
  def numBits(items: Long, fpp: Double): Long =
    math.min(BloomFilter.optimalNumOfBits(items, fpp), 1L << 26)

  /** Hashes per buffer chunk of a [[BloomWriter]] (512 KB). */
  private val chunkItems = 1 << 16

  /** Sidecar `j` of the part file at `file`. */
  def sidecar(file: String, j: Int): String = s"$file.$j.bloom"

  /** Writes through `inner` and buffers each row's column hashes
    * until [[maxItems]] rows; the filters are then sized from the
    * file's row count (or the cap) and written beside the part file at
    * close. A file with no rows gets no sidecar, as in the backfill.
    *
    * Memory, outside Spark's accounting: the buffer holds 8 bytes per
    * row and bloom column in fixed chunks of [[chunkItems]] longs
    * (never copied on growth), so one open writer holds at most
    * `8 * min(rows, maxItems)` bytes plus one chunk per column — 32 MB
    * per column for a file at the cap — and each filter's bits (at
    * most 8 MB). The buffer is dropped as soon as the filters are
    * filled, at the cap or at close. */
  private final class BloomWriter(inner: OutputWriter, file: String,
                                  schema: StructType, cols: Seq[String],
                                  fpp: Double, conf: Configuration)
      extends OutputWriter {
    private val hashes = cols.map { c =>
      val i = schema.fieldIndex(c)
      new XxHash64(Seq(BoundReference(i, schema(i).dataType, nullable = true)))
    }.toIndexedSeq
    private var buf = hashes.map(_ =>
      scala.collection.mutable.ArrayBuffer.empty[Array[Long]])
    private var n = 0L
    private var filters = IndexedSeq.empty[BloomFilter]

    private def fill(items: Long): Unit = {
      filters = buf.map { chunks =>
        val f = BloomFilter.create(items, numBits(items, fpp))
        var i = 0L
        while (i < n) {
          f.putLong(chunks((i / chunkItems).toInt)((i % chunkItems).toInt))
          i += 1
        }
        f
      }
      buf = IndexedSeq.empty
    }

    override def write(row: InternalRow): Unit = {
      inner.write(row)
      val at = (n % chunkItems).toInt
      hashes.indices.foreach { j =>
        val h = hashes(j).eval(row).asInstanceOf[Long]
        if (filters.nonEmpty) filters(j).putLong(h)
        else {
          if (at == 0) buf(j) += new Array[Long](chunkItems)
          buf(j).last(at) = h
        }
      }
      if (filters.isEmpty) {
        n += 1
        if (n == maxItems) fill(maxItems)
      }
    }

    override def close(): Unit = {
      inner.close()
      if (filters.isEmpty && n > 0) fill(n)
      filters.zipWithIndex.foreach { case (f, j) =>
        val p = new Path(sidecar(file, j))
        val out = p.getFileSystem(conf).create(p, false)
        try f.writeTo(out) finally out.close()
      }
    }

    override def path(): String = inner.path()
  }
}
