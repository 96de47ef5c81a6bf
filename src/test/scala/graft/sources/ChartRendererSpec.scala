package graft.sources

import graft.SparkSpec
import java.awt.Color
import javax.imageio.ImageIO

/** The AWT rasterizer must turn ChartSpec JSON into real, decodable
  * PNGs whose pixels reflect the data — bar heights proportional to
  * values, pie slices in palette colors — without any display or
  * external renderer. Pixel-property assertions, not golden bytes:
  * font rasterization varies across JVMs, geometry does not. */
class ChartRendererSpec extends SparkSpec {

  private lazy val pngDir = tempDir("graft-chart")
  private def tmpPng(): String =
    java.nio.file.Files.createTempFile(java.nio.file.Paths.get(pngDir), "chart", ".png").toString

  private def barColorColumns(img: java.awt.image.BufferedImage): Map[Int, Int] = {
    // count bar-colored pixels per x column
    val bar = new Color(0x1f, 0x77, 0xb4).getRGB
    (0 until img.getWidth).map { x =>
      x -> (0 until img.getHeight).count(y => img.getRGB(x, y) == bar)
    }.filter(_._2 > 0).toMap
  }

  test("bar chart: decodable PNG, white background, bar heights track values") {
    import spark.implicits._
    val df = Seq(("a", 4.0), ("b", 2.0), ("c", 1.0)).toDF("card", "win_rate")
    val spec = ChartSpec.barSpec(df, "T", "card", "win_rate")
    val path = tmpPng()
    AwtChartRenderer.render(spec, path)
    val img = ImageIO.read(new java.io.File(path))
    assert(img != null && img.getWidth === 1000 && img.getHeight === 500)
    assert(img.getRGB(2, 2) === Color.WHITE.getRGB)
    val cols = barColorColumns(img)
    assert(cols.nonEmpty, "no bar-colored pixels rendered")
    // three distinct bar runs; height ratio of tallest vs shortest ≈ 4:1
    val heights = cols.values.toSeq
    val (hMax, hMin) = (heights.max, heights.min)
    assert(hMax > hMin, "bars must differ in height")
    assert(math.abs(hMax.toDouble / hMin - 4.0) < 0.35,
      s"tallest/shortest should be ~4x (values 4 vs 1), got ${hMax.toDouble / hMin}")
  }

  test("bar chart: y axis uses a nice 1-2-5 ceiling") {
    assert(AwtChartRenderer.niceMax(0.73) === 1.0)
    assert(AwtChartRenderer.niceMax(1.3) === 2.0)
    assert(AwtChartRenderer.niceMax(4.2) === 5.0)
    assert(AwtChartRenderer.niceMax(7.9) === 10.0)
    assert(AwtChartRenderer.niceMax(130.0) === 200.0)
    assert(AwtChartRenderer.niceMax(0.0) === 1.0)
  }

  test("pie chart: slices cover the disc in palette colors proportional to values") {
    import spark.implicits._
    val df = Seq(("x", 3L), ("y", 1L)).toDF("type", "games")
    val spec = ChartSpec.pieSpec(df, "P", "type", "games")
    val path = tmpPng()
    AwtChartRenderer.render(spec, path)
    val img = ImageIO.read(new java.io.File(path))
    assert(img != null && img.getWidth === 640 && img.getHeight === 640)
    val c0 = new Color(0x1f, 0x77, 0xb4).getRGB
    val c1 = new Color(0xff, 0x7f, 0x0e).getRGB
    var (n0, n1) = (0, 0)
    for (x <- 0 until img.getWidth; y <- 0 until img.getHeight) {
      val p = img.getRGB(x, y)
      if (p == c0) n0 += 1 else if (p == c1) n1 += 1
    }
    assert(n0 > 0 && n1 > 0, "both slices must render in tab10 colors")
    // 3:1 split (autopct text carves a few white pixels out of each)
    assert(math.abs(n0.toDouble / (n0 + n1) - 0.75) < 0.03,
      s"slice area share should be ~0.75, got ${n0.toDouble / (n0 + n1)}")
  }

  test("empty data still writes a valid PNG (reference returns the path unconditionally)") {
    import spark.implicits._
    val df = Seq.empty[(String, Double)].toDF("card", "win_rate")
    val path = tmpPng()
    AwtChartRenderer.render(ChartSpec.barSpec(df, "E", "card", "win_rate"), path)
    val img = ImageIO.read(new java.io.File(path))
    assert(img != null && img.getWidth === 1000)
  }
}
