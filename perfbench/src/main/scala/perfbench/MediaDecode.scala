package perfbench

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.ByteArrayOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.multimodal.MediaDedup
import graft.multimodal.Multimodal.MediaRow
import graft.multimodal.PerfbenchWebp

/** Images the benchmark renders from the seed and encodes itself: PNG, GIF,
  * BMP, TIFF (LZW) and JPEG through the JDK's ImageIO writers, WebP through
  * the program's `Vp8Enc`. Every image decodes through `MediaDedup.imageBlockMeans` at a
  * coarse block size, so decoding dominates. One operation decodes a batch
  * of one format; a round decodes each format's batch four times, in a
  * seeded order.
  *
  * Lossless formats must reproduce the block means of the benchmark's own
  * source raster exactly. JPEG and WebP are lossy: their means must stay
  * within a small distance of what the source shows, and repeat exactly
  * from call to call. */
final class MediaDecode(seed: Long, tiny: Boolean) extends Workload {
  private val BlockPx = 16
  private val PerBatch = if (tiny) 2 else 6
  private val Sizes = if (tiny) Seq(128 -> 128, 160 -> 128) else Seq(320 -> 240, 480 -> 320, 640 -> 480)
  private val Formats = IndexedSeq("png", "gif", "bmp", "tiff", "jpeg", "webp")
  /** Lossy formats: the value a viewer shows for a source block mean, and
    * how far a decoded block mean may stray from it. The WebP fixtures are
    * gray luma cells, shown through the decoder's studio-range YUV to RGB. */
  private val Lossy: Map[String, (Long => Long, Long)] = Map(
    "jpeg" -> ((v: Long) => v, 12L),
    "webp" -> ((v: Long) => math.max(0L, math.min(255L, math.round(1.164 * (v - 16)))), 3L))

  val classes: Set[String] = Set("decode")
  val roundSize: Int = 4 * Formats.size

  /** `want` is the expected digest: known up front for lossless formats,
    * set by the first checked decode for lossy ones. `source` holds the
    * source raster's block means. */
  private final case class Batch(format: String, rows: Seq[MediaRow], mpix: Double, bytes: Long,
                                 var want: Option[Digest], source: Map[(Long, Int, Int), Long])
  private var batches = Map.empty[String, Batch]
  private var rnd: scala.util.Random = _
  private var order: IndexedSeq[String] = IndexedSeq.empty

  private val meansSchema = StructType(Seq(StructField("media_id", LongType), StructField("bx", IntegerType),
    StructField("by", IntegerType), StructField("mean", LongType)))

  /** The source raster: smooth gradients, a few flat rectangles, fine noise. */
  private def raster(r: scala.util.Random, w: Int, h: Int): Array[Int] = {
    val px = Array.ofDim[Int](w * h)
    val (a, b, c) = (r.nextInt(256), r.nextInt(256), r.nextInt(256))
    for (y <- 0 until h; x <- 0 until w) {
      val rr = (a + x * 255 / w + r.nextInt(8)) & 0xFF
      val gg = (b + y * 255 / h + r.nextInt(8)) & 0xFF
      val bb = (c + (x + y) * 127 / (w + h) + r.nextInt(8)) & 0xFF
      px(y * w + x) = (rr << 16) | (gg << 8) | bb
    }
    for (_ <- 0 until 6) {
      val (x0, y0) = (r.nextInt(w), r.nextInt(h))
      val (rw, rh, col) = (1 + r.nextInt(w / 3), 1 + r.nextInt(h / 3), r.nextInt(1 << 24))
      for (y <- y0 until math.min(h, y0 + rh); x <- x0 until math.min(w, x0 + rw)) px(y * w + x) = col
    }
    px
  }

  private def blockMeans(w: Int, h: Int, rgb: Int => Int): Array[Long] = {
    val gw = w / BlockPx; val gh = h / BlockPx
    val sums = new Array[Long](gw * gh); val cnts = new Array[Long](gw * gh)
    for (y <- 0 until gh * BlockPx; x <- 0 until gw * BlockPx) {
      val p = rgb(y * w + x)
      val k = (y / BlockPx) * gw + x / BlockPx
      sums(k) += (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3
      cnts(k) += 1
    }
    sums.indices.map(k => sums(k) / cnts(k)).toArray
  }

  private def encode(img: BufferedImage, format: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName(format).next()
    val ios = ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    val param = writer.getDefaultWriteParam
    format match {
      case "tiff" =>
        param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT); param.setCompressionType("LZW")
      case "jpeg" =>
        param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT); param.setCompressionQuality(0.9f)
      case _ =>
    }
    writer.write(null, new IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    out.toByteArray
  }

  /** One image: its payload and the source raster's block means. */
  private def image(id: Long, format: String, w: Int, h: Int): (MediaRow, Array[Long], Int) =
    format match {
      case "webp" =>
        val cw = w / 4
        val cells = Array.tabulate((w / 4) * (h / 4))(k => 40 + ((k % cw) * 3 + (k / cw) * 2) % 160 + rnd.nextInt(6))
        val gray = (k: Int) => { val v = cells((k / w / 4) * (w / 4) + (k % w) / 4); (v << 16) | (v << 8) | v }
        (MediaRow(id, "image", PerfbenchWebp.cellGray(w, h, cells), w, h, 1), blockMeans(w, h, gray), w * h)
      case "gif" =>
        val cube = (0 until 216).map(i => ((i / 36) * 51, (i / 6 % 6) * 51, (i % 6) * 51))
        val cm = new IndexColorModel(8, 216, cube.map(_._1.toByte).toArray, cube.map(_._2.toByte).toArray,
          cube.map(_._3.toByte).toArray)
        val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, cm)
        val src = raster(rnd, w, h)
        val idx = src.map(p => (((p >> 16) & 0xFF) / 51) * 36 + (((p >> 8) & 0xFF) / 51) * 6 + (p & 0xFF) / 51)
        img.getRaster.setPixels(0, 0, w, h, idx)
        val shown = (k: Int) => { val (r, g, b) = cube(idx(k)); (r << 16) | (g << 8) | b }
        (MediaRow(id, "image", encode(img, "gif"), w, h, 1), blockMeans(w, h, shown), w * h)
      case f =>
        val src = raster(rnd, w, h)
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        img.setRGB(0, 0, w, h, src, 0, w)
        (MediaRow(id, "image", encode(img, f), w, h, 1), blockMeans(w, h, src), w * h)
    }

  private def meanRows(id: Long, w: Int, means: Array[Long]): Seq[Row] = {
    val gw = w / BlockPx
    means.indices.map(k => Row(id, k % gw, k / gw, means(k)))
  }

  def setup(ctx: Ctx): Unit = {
    rnd = new scala.util.Random(seed)
    val spark = ctx.spark
    import spark.implicits._
    var id = 0L
    // every batch holds each size equally often, so a batch's pixel count,
    // and with it the decode work, is the same for every seed
    batches = Formats.map { f =>
      val sizes = rnd.shuffle(Seq.fill(PerBatch / Sizes.size)(Sizes).flatten)
      val imgs = sizes.map { case (w, h) => id += 1; image(id, f, w, h) }
      val rows = imgs.map(_._1)
      val source = imgs.flatMap { case (m, means, _) => meanRows(m.media_id, m.width, means) }
      val want = if (Lossy.contains(f)) None else Some(Digest.ofRows(meansSchema, source))
      val ref = source.map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
      f -> Batch(f, rows, imgs.map(_._3).sum / 1e6, rows.map(_.payload.length.toLong).sum, want, ref)
    }.toMap
  }

  def warmUp(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    Formats.foreach(f => Digest.of(MediaDedup.imageBlockMeans(batches(f).rows.toDS(), BlockPx)))
  }

  def op(ctx: Ctx, i: Int): Op = {
    if (i % roundSize == 0) order = rnd.shuffle(Seq.fill(4)(Formats).flatten).toIndexedSeq
    val b = batches(order(i % roundSize))
    val spark = ctx.spark
    import spark.implicits._
    Op(s"decode_${b.format}", "decode", () => {
        val ds = b.rows.toDS()
        ctx.tracer.span("multimodal", "MediaDedup.imageBlockMeans") {
          val d = try Digest.of(MediaDedup.imageBlockMeans(ds, BlockPx))
          catch { case e: Throwable => ctx.tracer.count("multimodal.decode_errors", 1); throw e }
          ctx.tracer.count("multimodal.mpix_decoded", b.mpix)
          ctx.tracer.count("multimodal.bytes_in", b.bytes.toDouble)
          d
        }
      },
      r => b.want match {
        case Some(d) => Check.equal(s"${b.format} block means", r, d)
        case None => b.want = Some(checkLossy(ctx, b, r.asInstanceOf[Digest]))
      }, work = b.mpix)
  }

  /** First decode of a lossy batch: every block mean within the format's
    * tolerance of what the source shows; later decodes must repeat it. */
  private def checkLossy(ctx: Ctx, b: Batch, got: Digest): Digest = {
    val spark = ctx.spark
    import spark.implicits._
    val (shown, tolerance) = Lossy(b.format)
    val means = MediaDedup.imageBlockMeans(b.rows.toDS(), BlockPx).collect()
    Check.equal(s"${b.format} blocks", means.length, b.source.size)
    means.foreach { r =>
      val d = math.abs(r.getLong(3) - shown(b.source((r.getLong(0), r.getInt(1), r.getInt(2)))))
      Check.that(s"${b.format} block mean off by $d", d <= tolerance)
    }
    Check.equal(s"${b.format} block means", got, Digest.ofRows(meansSchema, means.toSeq))
    got
  }

  def properties: Seq[(String, Any)] = Seq(
    "formats" -> Formats.mkString(","), "images_per_batch" -> PerBatch,
    "sizes" -> Sizes.map { case (w, h) => s"${w}x$h" }.mkString(","), "block_px" -> BlockPx,
    "mpix_per_round" -> batches.values.map(_.mpix).sum,
    "bytes_per_round" -> batches.values.map(_.bytes).sum,
    "format_bytes" -> batches.map { case (f, b) => f -> b.bytes })

  def finish(ctx: Ctx, samples: Seq[Sample]): Map[String, Double] = {
    val ok = samples.filter(_.ok)
    val ms = ok.map(_.ms).sum
    Map("media_mpix_per_s" -> (if (ms > 0) ok.map(_.work).sum / (ms / 1000.0) else 0.0))
  }
}
