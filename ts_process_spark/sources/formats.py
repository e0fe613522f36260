"""Seismogram interchange formats as Spark sources/sinks.

Reference surface (SURVEY §2.1): BBP 4-column ASCII with '#' headers
(S1/S2/S11, /root/reference/ts_process/file_utilities.py:204-299,
335-479), Hercules 10-column (S3, :301-333), AWP with its NS/EW channel
swap (S6, awp2bbp.py:79-121), RWG/EDGE with the negative-time row
filter (S7/S8, rwg2bbp.py:82-128), and the BBP writer with regenerated
time axis + deterministic formatting (K1, file_utilities.py:525-665).

Engine position: parquet/Iceberg is the bulk path; these ASCII formats
are interchange/golden-file surfaces.  Readers are distributed
(spark.read.text → column expressions — a directory of station files
parallelizes per file); header metadata is parsed driver-side from the
head of each file (headers are O(10) lines by format definition).
Writers emit the reference's exact row format for golden-file
comparison and are driver-side by design (one station = one small
file, the reference's own unit of output).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _data_rows(spark: SparkSession, path: str, n_cols: int) -> DataFrame:
    """Comment-skipping whitespace-split numeric parse (the
    read_file_bbp2 semantics: '#'/'%' comments, inline-comment trim)."""
    lines = spark.read.text(path)
    clean = lines.select(
        F.trim(F.split(F.col("value"), "[#%]").getItem(0)).alias("v")
    ).where(F.col("v") != "")
    parts = F.split(F.col("v"), r"\s+")
    cols = [parts.getItem(i).cast("double").alias(f"c{i}") for i in range(n_cols)]
    return clean.select(*cols).where(F.col("c0").isNotNull())


def read_bbp_headers(path: str) -> dict:
    """Header metadata from '#' lines (units=/padding=/orientation=/
    time=/lp=/hp=; file_utilities.py:335-479)."""
    meta: dict = {}
    with open(path) as f:
        for line in f:
            if not line.startswith(("#", "%")):
                break
            low = line.lower()
            for key, cast in (
                ("units", str), ("padding", int), ("lp", float), ("hp", float),
            ):
                m = re.search(rf"{key}\s*=\s*([^\s,]+)", low)
                if m:
                    try:
                        meta[key] = cast(m.group(1))
                    except ValueError:
                        pass
            m = re.search(r"orientation\s*=\s*(.+)", low)
            if m:
                meta["orientation"] = [
                    o.strip() for o in m.group(1).replace(",", " ").split()
                ]
            m = re.search(r"time\s*=\s*(\d+):(\d+):([\d.]+)", low)
            if m:
                meta["time"] = [float(m.group(i)) for i in (1, 2, 3)]
    return meta


def read_bbp(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """One BBP file (time, h1, h2, vertical) → tall rows
    (i, t, h1, h2, ver) + header metadata.  dt is inferred from the
    first two time values (get_dt, file_utilities.py:69-100) but
    carried as data — the engine never re-infers it downstream.

    FIXTURE-ONLY (single file): the dt probe below is a driver
    ``orderBy.limit(2).collect()`` round-trip per file — fine for one
    test fixture, a serialization point for an ingest of 10^5 station
    files.  Bulk ingest MUST go through :func:`read_bbp_bulk`, which
    derives dt in-plan per file with window functions and never
    touches the driver."""
    meta = read_bbp_headers(path)
    df = _data_rows(spark, path, 4).select(
        F.col("c0").alias("t"),
        F.col("c1").alias("h1"),
        F.col("c2").alias("h2"),
        F.col("c3").alias("ver"),
    )
    first_two = [r["t"] for r in df.orderBy("t").limit(2).collect()]
    meta["dt"] = round(first_two[1] - first_two[0], 9) if len(first_two) > 1 else None
    w = F.round(F.col("t") / meta["dt"]).cast("int") if meta["dt"] else F.lit(0)
    return df.withColumn("i", w), meta


def read_bbp_bulk(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Directory/glob of BBP files → ONE distributed job, no per-file
    driver round-trips (round-3 VERDICT ask #6; read_bbp's
    orderBy.limit(2).collect() dt probe serializes an ingest of 10^5
    station files).

    Returns (signals, headers):
    - signals: (file, i, t, dt, h1, h2, ver) — dt derived IN-PASS per
      file from the two smallest time values (get_dt,
      file_utilities.py:69-100) via window functions, then joined back
      by partition-local window broadcast, never through the driver.
    - headers: (file, units, padding, lp, hp, orientation) parsed from
      the '#' lines distributively — the same regex surface as
      read_bbp_headers, as columns instead of a driver dict.

    Scale shape: the DATA pass is spark.read.text — splits per file AND
    per block for large files, order-free (rows self-order by t); the
    HEADER pass is a separate wholetext read (one row per file — line
    offsets inside a file are otherwise unrecoverable: Spark packs
    splits by descending size, so monotonically_increasing_id does NOT
    follow file offset across a multi-split file and can misclassify
    header vs post-data comment lines — ADVICE r4).  Header files ride
    as one string each, so individual files must stay under the 2 GiB
    row limit for the header columns; the data rows have no such bound.
    The only exchanges are the two per-file aggregations."""
    from pyspark.sql import Window

    lines = spark.read.text(path).select(
        F.input_file_name().alias("file"), F.col("value")
    )
    # ---- header columns: mirror read_bbp_headers exactly — only the
    # LEADING comment block counts (comment lines starting at column 0
    # and blank lines, stopping at the first data line) and the LAST
    # match per key wins, all keys optional (missing → NULL, never an
    # ANSI cast error on '')
    wt = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("file"), F.col("value")
    )
    # the lead regex is CR-tolerant in place (terminators \r\n, \r, \n,
    # or end-of-input; header content stops at either CR or LF) — the
    # Hadoop line reader the data pass goes through treats all three as
    # line ends, and matching them here means NO whole-file copy (no
    # normalization pass, no concat): the extract only walks the
    # leading block plus the first data line
    lead = F.regexp_extract(
        F.col("value"),
        r"\A((?:(?:[#%][^\r\n]*|[ \t]*)(?:\r\n|\r|\n|\z))*)",
        1,
    )
    hdr = (
        wt.select("file", F.posexplode(F.split(lead, r"\r\n|\r|\n")))
        .where(F.col("col").rlike(r"^[#%]"))
        .select(
            "file",
            F.col("pos").alias("_lid"),  # TRUE in-file line number
            F.lower(F.col("col")).alias("v"),
        )
    )

    def last_match(key_re: str):
        extr = F.regexp_extract(F.col("v"), key_re, 1)
        # max_by ignores rows whose ordering value is NULL → only lines
        # that actually matched compete, and the latest one wins
        return F.max_by(extr, F.when(extr != "", F.col("_lid")))

    headers = hdr.groupBy("file").agg(
        last_match(r"units\s*=\s*([^\s,]+)").alias("units"),
        last_match(r"padding\s*=\s*([^\s,]+)").try_cast("int").alias("padding"),
        last_match(r"lp\s*=\s*([^\s,]+)").try_cast("double").alias("lp"),
        last_match(r"hp\s*=\s*([^\s,]+)").try_cast("double").alias("hp"),
        last_match(r"orientation\s*=\s*(.+)").alias("orientation"),
    )
    # ---- data rows (read_file_bbp2 comment semantics, per file)
    clean = lines.select(
        "file", F.trim(F.split(F.col("value"), "[#%]").getItem(0)).alias("v")
    ).where(F.col("v") != "")  # _lid dropped: data rows are t-ordered
    parts = F.split(F.col("v"), r"\s+")
    # try_cast, not cast: one malformed line in one of 10^5 files must
    # cost that ROW (reference parity is a crash, but only per-file),
    # not an ANSI CAST_INVALID_INPUT abort of the whole bulk ingest
    df = clean.select(
        "file",
        parts.getItem(0).try_cast("double").alias("t"),
        parts.getItem(1).try_cast("double").alias("h1"),
        parts.getItem(2).try_cast("double").alias("h2"),
        parts.getItem(3).try_cast("double").alias("ver"),
    ).where(F.col("t").isNotNull())
    wo = Window.partitionBy("file").orderBy("t")
    wf = Window.partitionBy("file")
    df = (
        df.withColumn("_rn", F.row_number().over(wo))
        .withColumn("_t2", F.lead("t").over(wo))
        .withColumn(
            "dt",
            F.max(
                F.when(
                    F.col("_rn") == 1, F.round(F.col("_t2") - F.col("t"), 9)
                )
            ).over(wf),
        )
        .withColumn(
            "i",
            # dt = 0 (duplicated first timestamps in one malformed file)
            # must not DIVIDE_BY_ZERO-abort the whole ingest: degrade to
            # i=0 exactly like the single-file reader's falsy-dt guard
            F.when(
                F.col("dt").isNotNull() & (F.col("dt") != 0),
                F.round(F.col("t") / F.col("dt")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("_rn", "_t2")
    )
    return df, headers


def read_hercules(spark: SparkSession, path: str) -> DataFrame:
    """Hercules 10-column (time, dis×3, vel×3, acc×3), hardcoded
    orientations 0/90/up (file_utilities.py:301-333) → tall signal rows
    (component, i-by-order, dis/vel/acc)."""
    df = _data_rows(spark, path, 10)
    names = ["t", "dis_h1", "dis_h2", "dis_ver", "vel_h1", "vel_h2", "vel_ver",
             "acc_h1", "acc_h2", "acc_ver"]
    df = df.select(*[F.col(f"c{i}").alias(n) for i, n in enumerate(names)])
    stacked = df.selectExpr(
        "t",
        "stack(3, "
        "'h1', 0.0D, dis_h1, vel_h1, acc_h1, "
        "'h2', 90.0D, dis_h2, vel_h2, acc_h2, "
        "'ver', CAST(NULL AS DOUBLE), dis_ver, vel_ver, acc_ver"
        ") as (component, orientation_deg, dis, vel, acc)"
    )
    return stacked


def hercules_to_bbp(df: DataFrame, quantity: str = "acc") -> DataFrame:
    """her→BBP conversion (her2bbp.py:145-157): pivot the tall Hercules
    rows back to wide (t, h1, h2, ver, dt) for one quantity WITH the
    vertical sign flip — Hercules verticals point down, BBP's point up,
    so the reference multiplies every ver sample by −1 (the P6
    projection; read_hercules itself deliberately does NOT flip because
    read_file_her doesn't — the flip belongs to this converter).
    The output composes DIRECTLY with write_bbp: dt is derived in-plan
    from the two smallest time values (get_dt semantics), carried as a
    column.

    SINGLE-STATION input required (like the reference converter, which
    processes one file): if two rows share a (t, component) — e.g. a
    directory of station files was read as one DataFrame — the job
    fails loudly instead of interleaving stations into a
    plausible-looking but arbitrary BBP table."""
    if quantity not in ("dis", "vel", "acc"):
        raise ValueError(f"quantity must be dis|vel|acc, got {quantity!r}")
    from pyspark.sql import Window

    def one(component: str) -> Column:
        picked = F.first(
            F.when(F.col("component") == component, F.col(quantity)),
            ignorenulls=True,
        )
        n = F.count(F.when(F.col("component") == component, F.lit(1)))
        return F.when(
            n > 1,
            F.raise_error(
                F.lit(
                    "hercules_to_bbp: duplicate (t, component) rows — "
                    "input must be a single station"
                )
            ).cast("double"),
        ).otherwise(picked)

    wide = df.groupBy("t").agg(
        one("h1").alias("h1"),
        one("h2").alias("h2"),
        one("ver").alias("ver"),
    )
    wo = Window.orderBy("t")
    wf = Window.partitionBy(F.lit(0))
    return (
        wide.withColumn("_rn", F.row_number().over(wo))
        .withColumn("_t2", F.lead("t").over(wo))
        .withColumn(
            "dt",
            F.max(
                F.when(
                    F.col("_rn") == 1, F.round(F.col("_t2") - F.col("t"), 9)
                )
            ).over(wf),
        )
        .select("t", "h1", "h2", (-F.col("ver")).alias("ver"), "dt")
    )


def read_awp(spark: SparkSession, path: str, dt: float) -> DataFrame:
    """AWP 4-col; the reference SWAPS channel order EW/NS → NS/EW
    (awp2bbp.py:102-107) and synthesizes the time axis from dt."""
    df = _data_rows(spark, path, 4)
    return df.select(
        (F.col("c0")).alias("t_raw"),
        F.col("c2").alias("h1"),   # NS ← column 2 (the swap)
        F.col("c1").alias("h2"),   # EW ← column 1
        F.col("c3").alias("ver"),
    ).withColumn("i", F.round(F.col("t_raw") / dt).cast("int")).withColumn(
        "t", F.col("i") * dt
    ).drop("t_raw")


def read_rwg(spark: SparkSession, path: str) -> DataFrame:
    """RWG velocity reader: DROPS rows with negative time
    (rwg2bbp.py:107-109)."""
    df = _data_rows(spark, path, 4)
    return df.where(F.col("c0") >= 0).select(
        F.col("c0").alias("t"),
        F.col("c1").alias("h1"),
        F.col("c2").alias("h2"),
        F.col("c3").alias("ver"),
    )


def write_bbp(
    pdf: pd.DataFrame,
    path: str,
    units: str = "cm",
    lp: float | None = None,
    hp: float | None = None,
    padding: int = 0,
) -> None:
    """Golden-file BBP sink: regenerated time axis from 0 and the
    reference's deterministic '%5.7f %5.9e ...' row format
    (file_utilities.py:545-550, 657-660).  pdf columns: dt, h1, h2, ver."""
    dt = float(pdf["dt"].iloc[0])
    n = len(pdf)
    t = np.zeros(n)
    for i in range(1, n):
        t[i] = t[i - 1] + dt  # reference regenerates by accumulation
    with open(path, "w") as f:
        f.write(f"# units={units}\n")
        f.write(f"# padding={padding}\n")
        f.write("# orientation=0,90,up\n")
        if lp is not None:
            f.write(f"# lp={lp}\n")
        if hp is not None:
            f.write(f"# hp={hp}\n")
        f.write("# Column 1: Time (s)\n")
        for i in range(n):
            f.write(
                "%5.7f   %5.9e   %5.9e   %5.9e\n"
                % (t[i], pdf["h1"].iloc[i], pdf["h2"].iloc[i], pdf["ver"].iloc[i])
            )


G2CMSS = 980.665  # g → cm/s² (ts_library.py:57)

_SMC_SIGNAL_SCHEMA = (
    "station string, component int, orientation string, "
    "orientation_deg double, i int, dt double, acc double, vel double, "
    "dis double"
)
_SMC_META_SCHEMA = (
    "station string, network string, station_id string, type string, "
    "date string, time string, longitude string, latitude string, "
    "high_pass double, low_pass double"
)


def _smc_values(signal: str) -> np.ndarray:
    """Whitespace/fixed-width float block → float64 array.  The
    reference splits negatives stuck to the previous value by inserting
    a space before '-' (smc2bbp.py:72-83); data is plain decimal, so
    this never hits an exponent sign."""
    return np.array([float(s) for s in signal.replace("-", " -").split()],
                    dtype=np.float64)


def _smc_channels(text: str) -> list[list[str]]:
    """Split a multi-channel SMC body on '/&' markers into per-channel
    line lists (smc2bbp.py:104-118)."""
    channels = text.split("/&")
    del channels[-1]
    out = [channels[0].split("\n")]
    for ch in channels[1:]:
        lines = ch.split("\n")
        del lines[0]
        out.append(lines)
    return out


def _norm_orientation(orientation) -> tuple[str, float | None]:
    """Union-typed orientation (float degrees | 'up'/'down') → clean
    (label, degrees-or-null) pair — SURVEY §7.4's normalization of the
    reference union type (ts_library.py:75)."""
    if isinstance(orientation, str):
        return orientation, None
    return str(orientation), float(orientation)


def _parse_smc_v1(name: str, text: str) -> tuple[list[dict], dict]:
    """SMC V1 semantics (smc2bbp.py:85-191): uncorrected accelerograms;
    fixed line offsets for lat/lon (line 4), orientation (line 6,
    360→0, digits→float else lowercased), date (line 3 cols 37:80) and
    time parts (line 14); samples + sample rate on line 27; data from
    line 28 in g, scaled by G2CMSS then integrated twice for vel/dis."""
    from ts_process_spark.functions.dsp import integrate

    base = name.split("/")[-1].split(".")[0]
    components = []
    meta: dict = {}
    for lines in _smc_channels(text):
        if lines[0][0:24].lower() != "uncorrected accelerogram":
            raise ValueError(f"{name}: not an uncorrected accelerogram")
        tmp = lines[4].split()
        latitude, longitude = tmp[3][:-1], tmp[4]
        tmp = lines[6].split()
        orientation = tmp[2]
        if orientation.isdigit():
            orientation = float(int(orientation))
            if orientation == 360:
                orientation = 0.0
        else:
            orientation = orientation.lower()
        start = lines[3][37:80].split()
        date = start[2][:-1]
        t = lines[14].split()
        time = f"{t[0]}:{t[1]}:{t[2]}.{t[3]} {lines[3].split()[-2]}"
        tmp = lines[27].split()
        samples, dt = int(tmp[0]), 1.0 / int(tmp[4])
        acc = _smc_values("".join(lines[28:])) * G2CMSS
        vel = integrate(acc, dt)
        dis = integrate(vel, dt)
        components.append(
            {"orientation": orientation, "dt": dt, "samples": samples,
             "acc": acc, "vel": vel, "dis": dis}
        )
        meta = {
            "network": base[0:2].upper(), "station_id": base[2:].upper(),
            "type": "V1", "date": date, "time": time,
            "longitude": longitude, "latitude": latitude,
            "high_pass": -1.0, "low_pass": -1.0,
        }
    return components, meta


def _parse_smc_v2(name: str, text: str) -> tuple[list[dict], dict]:
    """SMC V2 semantics (smc2bbp.py:193-344): corrected accelerograms;
    orientation from integer header cols 50:55 of line 26 (360→0,
    500→'up', 600→'down'); hp/lp from line 14 tokens 8/10; samples+dt
    from line 45; a/v/d data sections split on 'points' marker lines."""
    base = name.split("/")[-1].split(".")[0]
    components = []
    meta: dict = {}
    for lines in _smc_channels(text):
        t0 = lines[0].split()
        if (t0[0] + " " + t0[1]).lower() != "corrected accelerogram":
            raise ValueError(f"{name}: not a corrected accelerogram")
        tmp = lines[5].split()
        latitude, longitude = tmp[3][:-1], tmp[4]
        if latitude[-1].upper() != "N" and latitude.upper() != "S":
            # old-format deg/min/sec fallback (smc2bbp.py:243-253)
            latitude = "%s%s" % (
                float(tmp[3]) + float(tmp[4]) / 60.0 + float(tmp[5][:-2]) / 3600.0,
                tmp[5][-2],
            )
            longitude = "%s%s" % (
                float(tmp[6]) + float(tmp[7]) / 60.0 + float(tmp[8][:-1]) / 3600.0,
                tmp[8][-1],
            )
        orientation: float | str = float(int(lines[26][50:55]))
        if orientation == 360:
            orientation = 0.0
        elif orientation == 500:
            orientation = "up"
        elif orientation == 600:
            orientation = "down"
        tmp = lines[14].split()
        high_pass, low_pass = float(tmp[8]), float(tmp[10])
        start = lines[4][37:80].split()
        try:
            date = start[2][:-1]
            h, m, sf = start[3].split(":")
            seconds, fraction = sf.split(".")
            time = f"{h}:{m}:{seconds}.{fraction} {lines[4].split()[5]}"
        except IndexError:
            date, time = "00/00/00", "00:00:00.0 ---"
        tmp = lines[45].split()
        samples, dt = int(tmp[0]), float(tmp[8])
        sections = {"a": "", "v": "", "d": ""}
        dtype = None
        for s in lines[45:]:
            if "points" in s.lower():
                kind = s.split()[3].lower()
                dtype = {"accel": "a", "acc": "a", "veloc": "v", "vel": "v",
                         "displ": "d", "dis": "d"}.get(kind)
            elif dtype is not None:
                sections[dtype] += s
        components.append(
            {"orientation": orientation, "dt": dt, "samples": samples,
             "acc": _smc_values(sections["a"]),
             "vel": _smc_values(sections["v"]),
             "dis": _smc_values(sections["d"])}
        )
        meta = {
            "network": base[0:2].upper(), "station_id": base[2:].upper(),
            "type": "V2", "date": date, "time": time,
            "longitude": longitude, "latitude": latitude,
            "high_pass": high_pass, "low_pass": low_pass,
        }
    return components, meta


def _smc_files(spark: SparkSession, path: str) -> DataFrame:
    """One row per SMC file (station = file): wholetext scan — the unit
    of parallelism at scale is the file, exactly the reference's
    file-list fan-out loop (smc2bbp.py:518-520) made data-parallel."""
    return (
        spark.read.text(path, wholetext=True)
        .withColumn("name", F.input_file_name())
        .select("name", "value")
    )


def read_smc_signals(
    spark: SparkSession, path: str, version: str = "v2"
) -> DataFrame:
    """Distributed SMC V1/V2 reader → tall signal rows.  Parsing runs in
    an Arrow-batched ``mapInPandas`` over whole files (never per data
    row); orientation is normalized out of the reference's union type
    into (orientation:string, orientation_deg:double|null)."""
    parse = _parse_smc_v1 if version.lower() == "v1" else _parse_smc_v2

    def gen(batches):
        for pdf in batches:
            rows = []
            for name, text in zip(pdf["name"], pdf["value"]):
                comps, _ = parse(name, text)
                station = name.split("/")[-1].split(".")[0]
                for ci, c in enumerate(comps):
                    label, deg = _norm_orientation(c["orientation"])
                    n = len(c["acc"])
                    rows.append(pd.DataFrame({
                        "station": station, "component": ci,
                        "orientation": label, "orientation_deg": deg,
                        "i": np.arange(n, dtype=np.int32), "dt": c["dt"],
                        "acc": c["acc"], "vel": c["vel"], "dis": c["dis"],
                    }))
            if rows:
                yield pd.concat(rows, ignore_index=True)

    return _smc_files(spark, path).mapInPandas(gen, _SMC_SIGNAL_SCHEMA)


def read_smc_metadata(
    spark: SparkSession, path: str, version: str = "v2"
) -> DataFrame:
    """Distributed SMC station-metadata reader (the reference's
    station_metadata dict, smc2bbp.py:180-190 / 333-343, one row per
    file)."""
    parse = _parse_smc_v1 if version.lower() == "v1" else _parse_smc_v2

    def gen(batches):
        for pdf in batches:
            rows = []
            for name, text in zip(pdf["name"], pdf["value"]):
                _, meta = parse(name, text)
                meta = dict(meta)
                meta["station"] = name.split("/")[-1].split(".")[0]
                rows.append(meta)
            if rows:
                yield pd.DataFrame(rows)[
                    ["station", "network", "station_id", "type", "date",
                     "time", "longitude", "latitude", "high_pass", "low_pass"]
                ]

    return _smc_files(spark, path).mapInPandas(gen, _SMC_META_SCHEMA)


def write_hercules(pdf: pd.DataFrame, path: str) -> None:
    """Hercules 10-column golden-file sink (K2): accumulated time axis
    and the reference's exact '{:>12.3f}' + 9×'{:>12.7f}' row format
    (file_utilities.py:482-523).  pdf columns: dt + {dis,vel,acc}_{ns,ew,up}."""
    dt = float(pdf["dt"].iloc[0])
    n = len(pdf)
    time = [0.000]
    while len(time) < n:
        time.append(time[-1] + dt)  # reference accumulates, not i*dt
    cols = ["dis_ns", "dis_ew", "dis_up", "vel_ns", "vel_ew", "vel_up",
            "acc_ns", "acc_ew", "acc_up"]
    with open(path, "w") as f:
        f.write("# missing header \n")
        f.write(("{:>12}" + "  {:>12}" * 9 + "\n").format("# time", *cols))
        row_fmt = "{:>12.3f}" + "  {:>12.7f}" * 9 + "\n"
        for i in range(n):
            f.write(row_fmt.format(time[i], *(pdf[c].iloc[i] for c in cols)))


def station_to_signal_table(df: DataFrame, station: str, dt: float,
                            measure: str = "vel") -> DataFrame:
    """(i, h1, h2, ver) wide rows → the tall signal table used by
    operators/analytics.py."""
    stacked = df.selectExpr(
        "i",
        "stack(3, 'h1', 0.0D, h1, 'h2', 90.0D, h2, "
        "'ver', CAST(NULL AS DOUBLE), ver) as (component, orientation_deg, v)"
    )
    measures = {
        m: (F.col("v") if m == measure else F.lit(0.0)) for m in ("acc", "vel", "dis")
    }
    return stacked.select(
        F.concat(F.lit(station + "-"), F.col("component")).alias("series_id"),
        "component",
        "orientation_deg",
        F.col("i").cast("int").alias("i"),
        F.lit(dt).alias("dt"),
        measures["acc"].alias("acc"),
        measures["vel"].alias("vel"),
        measures["dis"].alias("dis"),
    )
