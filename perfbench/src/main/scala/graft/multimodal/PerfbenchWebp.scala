package graft.multimodal

/** The benchmark's handle on the package-private WebP encoder. */
object PerfbenchWebp {
  def cellGray(w: Int, h: Int, cells: Array[Int]): Array[Byte] = Vp8Enc.encodeCellGrayWebp(w, h, cells)
}
