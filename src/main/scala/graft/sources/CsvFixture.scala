package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import graft.core.Fixtures

/** S5 user-CSV ingest fixture (ref np.loadtxt path, main.py:10222–10233:
  * comma-delimited with a header row, sorted by time AFTER load, sanity
  * filter flux < 1e6, error column synthesized as 1e-4·flux).
  *
  * The reference's S5 reads a USER-SUPPLIED file, not survey data, so
  * the fixture is generated here: 2000 (t_us, flux) rows written in
  * permuted order (the query's sort is load-bearing), an LCG flux
  * around 1.0 formatted at 6 decimals (a decimal literal parses to the
  * identical double in Spark and DuckDB), every 97th row an out-of-
  * range 2e6 flux for the sanity filter, every 113th an empty flux
  * (NULL). Pure-JVM writer — no Spark job runs at plan construction;
  * written once through the fixture store, which [[path]] names.
  */
object CsvFixture {
  private val E = 1704067200000000L
  private val Name = "graft_s5"
  private val Key = Seq("graft-s5-v1")

  /** The fixture file's path, built or not (the s5 oracle reads it). */
  def path: String = new java.io.File(Fixtures.path(Name, Key, Nil), "input.csv").toString

  def ensure(): String = {
    Fixtures.dir(Name, Key, Nil) { tmp =>
      val sb = new StringBuilder("t_us,flux\n")
      (0 until 2000).foreach { i =>
        val k = i * 797 % 2000 // permuted write order (797 ⊥ 2000)
        val t = E + k.toLong * 300000000L
        val flux =
          if (k % 97 == 0) "2000000.0"
          else if (k % 113 == 0) ""
          else f"${0.9 + 0.2 * ((k * 1103515245L + 12345L) % 2147483648L).toDouble / 2147483648.0}%.6f"
        sb.append(t).append(',').append(flux).append('\n')
      }
      Files.write(new java.io.File(tmp, "input.csv").toPath,
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    path
  }
}
