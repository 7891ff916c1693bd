package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cleaning/featurization ETL (SURVEY.md §2.2-§2.3, E1): the reference's
  * data_cleaning.py / complete_pipeline.py:40-98 stage as composable
  * DataFrame → DataFrame transforms, generalized to any schema.
  *
  * Engine improvements over the reference, each noted inline:
  *  - explicit schema instead of inferSchema (removes a full extra pass —
  *    at 100 TB, a second scan of the input; SURVEY §1.3);
  *  - ALL median imputation values from ONE approxQuantile call (the
  *    reference runs one job per column, data_cleaning.py:67 → 7 sequential
  *    scans; SURVEY §3 E1 note).
  */
object Cleaning {

  /** P1: defensive projection — intersection of wanted ∩ present columns
    * (data_cleaning.py:34-46). */
  def selectPresent(df: DataFrame, wanted: Seq[String]): DataFrame =
    df.select(wanted.filter(df.columns.contains).map(col): _*)

  /** A4+P6: median imputation for numeric columns — ONE pass for all
    * medians via the multi-column approxQuantile overload, then one
    * when/otherwise per column (null or NaN → median). */
  def imputeMedian(df: DataFrame, cols: Seq[String],
                   relativeError: Double = 0.01): DataFrame = {
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) return df
    val medians = df.stat.approxQuantile(present.toArray, Array(0.5), relativeError)
      .map(_.headOption.getOrElse(0.0))
    present.zip(medians).foldLeft(df) { case (d, (c, m)) =>
      d.withColumn(c,
        when(col(c).isNull || isnan(col(c)), lit(m)).otherwise(col(c)))
    }
  }

  /** P6+P10: null-or-empty string → "Unknown" (data_cleaning.py:76-78). */
  def fillUnknown(df: DataFrame, cols: Seq[String],
                  token: String = "Unknown"): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c).isNull || col(c) === "", lit(token)).otherwise(col(c)))
    }

  /** P6+P7: boolean POI flags → 0/1 ints (data_cleaning.py:81-86). */
  def boolToInt(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c) === true, 1).when(col(c) === false, 0)
          .otherwise(lit(null)).cast(IntegerType))
    }

  /** F1-F3+P3: temporal features from a timestamp column, then drop it
    * (data_cleaning.py:89-93; complete_pipeline names Hour/DayOfWeek/Month,
    * the canonical variant per SURVEY §1.4). */
  def temporalFeatures(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("Hour", hour(col(tsCol)))
      .withColumn("DayOfWeek", dayofweek(col(tsCol)))
      .withColumn("Month", month(col(tsCol)))
      .drop(tsCol)

  /** P4+P5: validity filter — non-null coordinates, label in range. */
  def validityFilter(df: DataFrame, notNull: Seq[String],
                     rangeCol: String, lo: Int, hi: Int): DataFrame =
    df.filter(notNull.filter(df.columns.contains)
        .map(col(_).isNotNull).reduceOption(_ && _).getOrElse(lit(true)))
      .filter(col(rangeCol).between(lo, hi))

  // ------------------------------------------------- accidents application

  /** Raw accidents schema — 46 columns, from hive/create_tables.hql:15-61
    * (explicit StructType replaces inferSchema). */
  val accidentsSchema: StructType = {
    def s(n: String) = StructField(n, StringType)
    def d(n: String) = StructField(n, DoubleType)
    def b(n: String) = StructField(n, BooleanType)
    StructType(Seq(
      s("ID"), StructField("Source", StringType), StructField("Severity", IntegerType),
      StructField("Start_Time", TimestampType), StructField("End_Time", TimestampType),
      d("Start_Lat"), d("Start_Lng"), d("End_Lat"), d("End_Lng"), d("Distance_mi"),
      s("Description"), s("Street"), s("City"), s("County"), s("State"), s("Zipcode"),
      s("Country"), s("Timezone"), s("Airport_Code"), s("Weather_Timestamp"),
      d("Temperature_F"), d("Wind_Chill_F"), d("Humidity_Percent"), d("Pressure_in"),
      d("Visibility_mi"), s("Wind_Direction"), d("Wind_Speed_mph"), d("Precipitation_in"),
      s("Weather_Condition"), b("Amenity"), b("Bump"), b("Crossing"), b("Give_Way"),
      b("Junction"), b("No_Exit"), b("Railway"), b("Roundabout"), b("Station"),
      b("Stop"), b("Traffic_Calming"), b("Traffic_Signal"), b("Turning_Loop"),
      s("Sunrise_Sunset"), s("Civil_Twilight"), s("Nautical_Twilight"),
      s("Astronomical_Twilight")))
  }

  /** Canonical cleaned schema — the 20-column complete_pipeline variant
    * that matches the committed parquet (SURVEY §1.4). */
  val cleanedColumns: Seq[String] = Seq(
    "ID", "Severity", "Start_Lat", "Start_Lng", "Distance_mi", "City", "State",
    "Temperature_F", "Humidity_Percent", "Visibility_mi", "Wind_Speed_mph",
    "Weather_Condition", "Amenity", "Crossing", "Junction", "Traffic_Signal",
    "Sunrise_Sunset", "Hour", "DayOfWeek", "Month")

  private val numericImpute = Seq("Temperature_F", "Humidity_Percent",
    "Visibility_mi", "Wind_Speed_mph", "Distance_mi")
  private val poiFlags = Seq("Amenity", "Crossing", "Junction", "Traffic_Signal")

  /** Full accidents cleaning composition (complete_pipeline.py:40-98):
    * project → impute medians → fill Unknown → flags to 0/1 → temporal
    * features → validity filter. */
  def cleanAccidents(raw: DataFrame): DataFrame = {
    val wanted = Seq("ID", "Severity", "Start_Time", "Start_Lat", "Start_Lng",
      "Distance_mi", "City", "State", "Temperature_F", "Humidity_Percent",
      "Visibility_mi", "Wind_Speed_mph", "Weather_Condition") ++ poiFlags ++
      Seq("Sunrise_Sunset")
    val projected = selectPresent(raw, wanted)
    val imputed = imputeMedian(projected, numericImpute)
    val filled = fillUnknown(imputed, Seq("Weather_Condition", "City",
      "Sunrise_Sunset"))
    val flagged = boolToInt(filled, poiFlags)
    val featured = temporalFeatures(flagged, "Start_Time")
    validityFilter(featured, Seq("Start_Lat", "Start_Lng"), "Severity", 1, 4)
      .select(cleanedColumns.filter(featured.columns.contains).map(col): _*)
  }

  /** A1: the severity-distribution summary query (data_cleaning.py:144). */
  def severityDistribution(cleaned: DataFrame): DataFrame =
    cleaned.groupBy("Severity").count().orderBy("Severity")
}
