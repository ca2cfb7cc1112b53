package graft

import java.nio.file.Files

/** Drives the CLI entry end-to-end (config + fixture CSV -> sinks). */
class MainSpec extends SparkTestBase {

  test("CLI: full run writes sinks and archives; dry-run does not") {
    spark // ensure the shared session exists (Main's getOrCreate reuses it)
    val cfgPath = getClass.getResource("/mapping_config.xml").getPath
    val out = tempDir("main_out_")
    // work on a COPY — the configured archive step moves the input file
    val csv = out.resolve("production_data.csv")
    Files.copy(java.nio.file.Paths.get(
      getClass.getResource("/production_data_fixture.csv").getPath), csv)

    Main.main(Array(
      "--config", cfgPath, "--input", csv.toString,
      "--valid-out", s"$out/valid", "--errors-out", s"$out/errors",
      "--dry-run"))
    assert(!Files.exists(out.resolve("valid")))
    assert(Files.exists(csv)) // dry-run does not archive

    Main.main(Array(
      "--config", cfgPath, "--input", csv.toString,
      "--valid-out", s"$out/valid", "--errors-out", s"$out/errors"))
    val valid = SparkTestBase.spark.read.parquet(s"$out/valid")
    // full-rules mode (not parity): unique-daily demotes rows 0 and 5;
    // RI is skipped (no dim registered at the CLI) -> 4 valid
    assert(valid.count() == 4)
    assert(!Files.exists(csv)) // archived away
    val processed = Files.list(out.resolve("processed"))
    try assert(processed.count() == 1) finally processed.close()
  }

  test("CLI rejects unknown arguments") {
    assertThrows[IllegalArgumentException](Main.main(Array("--bogus")))
  }

  test("CLI --batch isolates failures, reports n/total, archives successes") {
    spark
    val cfgPath = getClass.getResource("/mapping_config.xml").getPath
    val dir = tempDir("main_batch_")
    val header = fixtureHeader
    Files.writeString(dir.resolve("prod_a.csv"), header +
      "2024-02-15 08:30:00,LINE001,B1,PROD-A1,145.5,450.2,45.5,OP0001,0\n")
    Files.writeString(dir.resolve("prod_b.csv"),
      "timestamp,batch_number,line_id,product_code,temperature_c,pressure_kpa,humidity_pct,operator_id,defect_count\n" +
      "2024-02-15 09:00:00,B2,LINE002,PROD-B2,150.0,460.0,44.0,OP0002,0\n")

    val outBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf)) {
      Main.main(Array(
        "--config", cfgPath, "--batch", s"$dir/prod_*.csv",
        "--valid-out", s"$dir/valid", "--errors-out", s"$dir/errors"))
    }
    val printed = outBuf.toString
    assert(printed.contains("BATCH COMPLETE: 1/2 files processed successfully"), printed)
    assert(printed.contains("FAILED"), printed)
    // success archived away; the corrupt file stays for inspection
    assert(!Files.exists(dir.resolve("prod_a.csv")))
    assert(Files.exists(dir.resolve("prod_b.csv")))
    val archived = Files.list(dir.resolve("processed"))
    try assert(archived.count() == 1) finally archived.close()
  }
}
