"""Geocoding: (lat, lon) -> hexgrid cell ids, as one JVM expression.

North-star stage (a): pages are geocoded into hex cells (res 7-10).
There is one geocode path on Spark, ``hex_cell_udf``: a Column
expression that mirrors grid/hexgrid.py's numpy math operator for
operator, so it runs in whole-stage codegen with no Python worker.
``hex_cell_sql`` is the same math as a DuckDB SQL string — the
oracle twin used by the `__spark_entry__` queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..grid import hexgrid


def hex_cell_udf(res: int):
    """``hex_cell_udf(res)(lat_col, lon_col) -> Column`` of int64 cell
    ids, bit-identical to ``hexgrid.latlng_to_cell(lat, lon, res)``.

    Despite the name this is a JVM expression, not a Python UDF. It
    keeps numpy's float64 operation order (constants are double
    literals), and ``F.rint`` is Java ``Math.rint`` — round-half-even,
    the same as ``np.rint`` (pinned in tests/test_grid.py). A null,
    NaN or infinite coordinate yields a null cell (``try_cast``), so a
    bad row joins nothing instead of failing the job under ANSI mode.
    """
    s = F.lit(hexgrid.cell_size(res))
    sqrt3_3 = F.lit(float(hexgrid.SQRT3 / 3.0))
    two_thirds = F.lit(2.0 / 3.0)
    head = F.lit(hexgrid._FLAG | (int(res) << hexgrid._RES_SHIFT))
    off = hexgrid._OFF

    def cell(lat: Column, lon: Column) -> Column:
        # hexgrid._xy_to_axial_frac with x = lon, y = lat
        qf = (sqrt3_3 * lon - lat / 3.0) / s
        rf = (two_thirds * lat) / s
        # hexgrid._cube_round. Its rz fix reads the fixed rx, but the
        # two fixes exclude each other, so the unfixed rx is the same
        # value and keeps the expression tree small
        yf = -qf - rf
        rx, ry, rz = F.rint(qf), F.rint(yf), F.rint(rf)
        dx, dy, dz = F.abs(rx - qf), F.abs(ry - yf), F.abs(rz - rf)
        fix_x = (dx > dy) & (dx > dz)
        q = F.when(fix_x, -ry - rz).otherwise(rx)
        r = F.when(~fix_x & (dz > dy), -rx - ry).otherwise(rz)
        # hexgrid.pack
        q_bits = F.shiftleft(q.try_cast("long") + off, 28)
        return head.bitwiseOR(q_bits).bitwiseOR(r.try_cast("long") + off)

    return cell


def hex_cell_sql(
    res: int, lat_col: str = "lat", lon_col: str = "lon",
    dialect: str = "duck",
) -> str:
    """The hexgrid geocode as a DuckDB SQL expression — the oracle
    twin of ``hex_cell_udf``, bit-identical to
    hexgrid.latlng_to_cell: same float64 operation order, and DuckDB
    ``round_even(x, 0)`` == numpy rint (round-half-even).
    """
    if dialect != "duck":
        raise ValueError(
            "hex_cell_sql builds the DuckDB twin only; "
            "geocode on Spark with hex_cell_udf"
        )
    # string casts keep the constants exact float64
    s = f"cast('{hexgrid.cell_size(res)!r}' as double)"
    sqrt3_3 = f"cast('{hexgrid.SQRT3 / 3.0!r}' as double)"
    two_thirds = f"cast('{2.0 / 3.0!r}' as double)"
    qf = f"(({sqrt3_3} * {lon_col} - {lat_col} / 3.0) / {s})"
    rf = f"(({two_thirds} * {lat_col}) / {s})"
    yf = f"(-{qf} - {rf})"
    rx, ry, rz = (f"round_even({x}, 0)" for x in (qf, yf, rf))
    dx, dy, dz = f"abs({rx} - {qf})", f"abs({ry} - {yf})", f"abs({rz} - {rf})"
    fix_x = f"({dx} > {dy} and {dx} > {dz})"
    fix_z = f"(not {fix_x} and {dz} > {dy})"
    q = f"cast((case when {fix_x} then -{ry} - {rz} else {rx} end) as bigint)"
    # rz fix uses the (possibly fixed) rx — mirror hexgrid._cube_round
    rx_fixed = f"(case when {fix_x} then -{ry} - {rz} else {rx} end)"
    r = (
        f"cast((case when {fix_z} then -{rx_fixed} - {ry} else {rz} end)"
        " as bigint)"
    )
    off = 1 << 27
    res_shift = f"((cast({res} as bigint)) << 56)"
    q_shift = f"((({q} + {off})) << 28)"
    return f"({1 << 62} | {res_shift} | {q_shift} | ({r} + {off}))"
