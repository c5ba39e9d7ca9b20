"""SQL generators for quadtree-cell math, in two dialects.

The same logical expressions are emitted for Spark SQL (used via
``F.expr`` for the pure-integer ops, which whole-stage-codegen JVM-side)
and for DuckDB (used as the correctness oracle the driver runs against our
Spark results).  Generating both from one code path guarantees the oracle
implements the same semantics as the engine.

Integer ops (round/depth/common) are exact in both dialects.  The
floating-point encode (18-level Mercator quadrant descent,
reference quadtree.rs:558-672) is emitted as a chain of nested subqueries
(one per level, linear text size) — used for the DuckDB oracle, while the
Spark side runs the numerically-identical numpy implementation
(qt_numpy.calculate) inside an Arrow-batched pandas UDF: numpy and DuckDB
both call the platform libm, so transcendentals agree bit-for-bit.
"""

from __future__ import annotations

SPARK = "spark"
DUCKDB = "duckdb"


def _shr(x: str, n, dialect: str) -> str:
    if dialect == SPARK:
        return f"shiftright({x}, {n})"
    return f"(({x}) >> ({n}))"


def _shl(x: str, n, dialect: str) -> str:
    if dialect == SPARK:
        return f"shiftleft({x}, {n})"
    return f"(({x}) << ({n}))"


def qt_depth_sql(c: str) -> str:
    """depth = low 5 bits (quadtree.rs:408-410); dialect-neutral."""
    return f"(({c}) & 31)"


def qt_round_sql(c: str, level: int, dialect: str = DUCKDB) -> str:
    """Truncate to ancestor at `level` (quadtree.rs:450-458)."""
    s = 63 - 2 * int(level)
    trunc = f"({_shl(_shr(c, s, dialect), s, dialect)} + {level})"
    return f"(CASE WHEN (({c}) & 31) <= {level} THEN ({c}) ELSE {trunc} END)"


def qt_first_diff_sql(a: str, b: str, dialect: str = DUCKDB) -> str:
    """First level whose 2-bit path chunk differs; 32 if paths equal."""
    if dialect == SPARK:
        x = f"(({a}) ^ ({b})) & -32"
    else:
        x = f"xor(({a}), ({b})) & -32"
    branches = "".join(
        f" WHEN ({_shr(f'({x})', 61 - 2 * i, dialect)} & 3) != 0 THEN {i}"
        for i in range(21)
    )
    return f"(CASE{branches} ELSE 32 END)"


def qt_common_sql(a: str, b: str, dialect: str = DUCKDB) -> str:
    """LCA of two cells; negative inputs act as identity
    (quadtree.rs:471-496).  `a` and `b` should be simple column refs."""
    d = (
        f"LEAST((({a}) & 31), (({b}) & 31), "
        f"{qt_first_diff_sql(a, b, dialect)})"
    )
    lca = (
        f"({_shl(_shr(a, f'(63 - 2*__d)', dialect), f'(63 - 2*__d)', dialect)}"
        f" + __d)"
    )
    # inline __d: both dialects lack cheap local bindings inside an
    # expression, so emit d twice (it is CASE + LEAST over cheap bit ops)
    lca_inline = lca.replace("__d", d)
    return (
        f"(CASE WHEN ({a}) < 0 THEN ({b}) "
        f"WHEN ({b}) < 0 THEN ({a}) "
        f"WHEN ({a}) = ({b}) THEN ({a}) "
        f"ELSE {lca_inline} END)"
    )


def qt_common_agg_sql(c: str, dialect: str = DUCKDB) -> str:
    """LCA over a group = common(min, max) of the non-negative members
    (numeric i64 order == (padded path, depth) lexicographic order, so the
    group's shared path prefix is the prefix shared by min and max; see
    tests/test_qt.py::test_common_reduce_matches_fold).  NULL-safe: groups
    with no valid cell yield NULL.  Use inside SELECT ... GROUP BY."""
    mn = f"MIN(CASE WHEN ({c}) >= 0 THEN ({c}) END)"
    mx = f"MAX(CASE WHEN ({c}) >= 0 THEN ({c}) END)"
    return qt_common_sql(mn, mx, dialect)


def qt_from_xyz_sql(x: str, y: str, z: int, dialect: str = DUCKDB) -> str:
    """Tile (x,y,fixed z) -> cell (quadtree.rs:392-406)."""
    z = int(z)
    terms = []
    for i in range(z):
        bit = f"(({_shr(x, i, dialect)} & 1) | {_shl(f'({_shr(y, i, dialect)} & 1)', 1, dialect)})"
        terms.append(_shl(f"CAST({bit} AS BIGINT)", 2 * i, dialect))
    body = " + ".join(terms) if terms else "0"
    return f"({_shl(f'({body})', 63 - 2 * z, dialect)} + {z})"


def qt_to_x_sql(c: str, z: int, dialect: str = DUCKDB) -> str:
    """Tile x of a cell at FIXED depth z (unrolled to_xyz, quadtree.rs:
    61-87): x bit i (from the top) is cell bit 61-2i."""
    z = int(z)
    terms = [
        _shl(f"({_shr(c, 61 - 2 * i, dialect)} & 1)", z - 1 - i, dialect)
        for i in range(z)
    ]
    return "(" + (" + ".join(terms) if terms else "0") + ")"


def qt_to_y_sql(c: str, z: int, dialect: str = DUCKDB) -> str:
    """Tile y of a cell at FIXED depth z (bit 62-2i per level)."""
    z = int(z)
    terms = [
        _shl(f"({_shr(c, 62 - 2 * i, dialect)} & 1)", z - 1 - i, dialect)
        for i in range(z)
    ]
    return "(" + (" + ".join(terms) if terms else "0") + ")"


# ---------------------------------------------------------------------------
# floating-point encode: bbox -> cell, unrolled per level
# ---------------------------------------------------------------------------

def _find_quad_case(dialect: str) -> str:
    """Exact branch ladder of find_quad (quadtree.rs:558-601) over columns
    __qtminx,__qtminy,__qtmaxx,__qtmaxy with buffer literal __buf.

    IEEE NaN semantics are emulated explicitly: the y columns can be NaN
    (mercator of lat > 90, reachable via the +1e-7 degenerate-box widening
    at the pole), and numpy/Rust comparisons with NaN are FALSE, but both
    DuckDB and Spark SQL order NaN greater than everything, so every
    `>`/`>=` whose NaN-able operand would make it spuriously TRUE is
    guarded with NOT isnan(...).  The x columns are linear in lon and
    never NaN."""
    nn_miny = "NOT isnan(__qtminy) AND"
    nn_maxy = "NOT isnan(__qtmaxy) AND"
    return (
        "(CASE "
        "WHEN __qtminx < (-1.0 - __buf) OR __qtminy < (-1.0 - __buf) "
        f"OR __qtmaxx > (1.0 + __buf) OR ({nn_maxy} __qtmaxy > (1.0 + __buf)) THEN -1 "
        f"WHEN __qtmaxx <= 0.0 AND ({nn_miny} __qtminy >= 0.0) THEN 0 "
        f"WHEN __qtminx >= 0.0 AND ({nn_miny} __qtminy >= 0.0) THEN 1 "
        "WHEN __qtmaxx <= 0.0 AND __qtmaxy <= 0.0 THEN 2 "
        "WHEN __qtminx >= 0.0 AND __qtmaxy <= 0.0 THEN 3 "
        "WHEN __qtmaxx < __buf AND abs(__qtmaxx) < abs(__qtminx) "
        f"AND ({nn_miny} __qtminy > -__buf) "
        f"AND ({nn_maxy} abs(__qtmaxy) >= abs(__qtminy)) THEN 0 "
        "WHEN __qtminx > -__buf AND abs(__qtmaxx) >= abs(__qtminx) "
        f"AND ({nn_miny} __qtminy > -__buf) "
        f"AND ({nn_maxy} abs(__qtmaxy) >= abs(__qtminy)) THEN 1 "
        "WHEN __qtmaxx < __buf AND abs(__qtmaxx) < abs(__qtminx) "
        f"AND __qtmaxy < __buf AND ({nn_miny} abs(__qtmaxy) < abs(__qtminy)) THEN 2 "
        "WHEN __qtminx > -__buf AND abs(__qtmaxx) >= abs(__qtminx) "
        f"AND __qtmaxy < __buf AND ({nn_miny} abs(__qtmaxy) < abs(__qtminy)) THEN 3 "
        "ELSE -1 END)"
    )


def qt_calculate_subquery(
    base_sql: str,
    minlon: str,
    minlat: str,
    maxlon: str,
    maxlat: str,
    out_col: str = "qt",
    passthrough: tuple[str, ...] = (),
    maxlevel: int = 18,
    buffer: float = 0.05,
    dialect: str = DUCKDB,
) -> str:
    """Emit `SELECT <passthrough>, <out_col> FROM (...)` computing
    Quadtree::calculate_vals over fixed-point bbox columns of `base_sql`.

    One subquery layer per level keeps text/plan size linear (each level's
    quadrant `q` is named once and referenced by the next layer).
    """
    cols = ", ".join(passthrough)
    colsc = (cols + ", ") if cols else ""
    buf = repr(float(buffer))
    # DuckDB's ln() raises on non-positive input where IEEE (and the
    # reference) yield ln(0) = -inf (y = -90) and ln(<0) = NaN (y > 90,
    # reachable via the +1e-7 degenerate-box widening).  Pin both: either
    # way the value fails every find_quad branch and the descent stops at
    # this level, identically to the numpy engine.
    merc = (
        "(CASE WHEN ({y}) <= -90.0 THEN CAST('-Infinity' AS DOUBLE) "
        "WHEN ({y}) > 90.0 THEN CAST('NaN' AS DOUBLE) "
        "ELSE ln(tan(pi() * (1.0 + ({y}) / 90.0) / 4.0)) / pi() END)"
    )

    # layer 0: degrees, degenerate-box widening, mercator projection
    q = (
        f"SELECT {colsc}"
        f"(__minx > __maxx OR __miny > __maxy) AS __invalid, "
        f"__minx / 180.0 AS __qtminx, "
        f"(CASE WHEN __maxx = __minx THEN __maxx + 0.0000001 ELSE __maxx END) / 180.0 AS __qtmaxx, "
        + merc.format(y="__miny")
        + " AS __qtminy, "
        + merc.format(
            y="(CASE WHEN __maxy = __miny THEN __maxy + 0.0000001 ELSE __maxy END)"
        )
        + " AS __qtmaxy, CAST(0 AS BIGINT) AS __qt, FALSE AS __done FROM ("
        f"SELECT {colsc}"
        f"CAST({minlon} AS DOUBLE) * 0.0000001 AS __minx, "
        f"CAST({minlat} AS DOUBLE) * 0.0000001 AS __miny, "
        f"CAST({maxlon} AS DOUBLE) * 0.0000001 AS __maxx, "
        f"CAST({maxlat} AS DOUBLE) * 0.0000001 AS __maxy "
        f"FROM ({base_sql}) __b0) __b1"
    )

    fq = _find_quad_case(dialect).replace("__buf", buf)
    for level in range(int(maxlevel)):
        # layer A: quadrant for this level
        q = (
            f"SELECT {colsc}__invalid, __qtminx, __qtminy, __qtmaxx, __qtmaxy, __qt, __done, "
            f"{fq} AS __q FROM ({q}) __la{level}"
        )
        # layer B: fold quadrant into qt, recentre + double the box
        shift = 61 - 2 * level
        qbits = _shl("CAST(__q AS BIGINT)", shift, dialect)
        q = (
            f"SELECT {colsc}__invalid, "
            f"2.0*(__qtminx + CASE WHEN __q IN (0,2) THEN 0.5 ELSE -0.5 END) AS __qtminx, "
            f"2.0*(__qtminy + CASE WHEN __q IN (2,3) THEN 0.5 ELSE -0.5 END) AS __qtminy, "
            f"2.0*(__qtmaxx + CASE WHEN __q IN (0,2) THEN 0.5 ELSE -0.5 END) AS __qtmaxx, "
            f"2.0*(__qtmaxy + CASE WHEN __q IN (2,3) THEN 0.5 ELSE -0.5 END) AS __qtmaxy, "
            f"CASE WHEN NOT __done AND __q >= 0 THEN __qt + {qbits} + 1 "
            f"ELSE __qt END AS __qt, "
            f"(__done OR __q < 0) AS __done FROM ({q}) __lb{level}"
        )

    return (
        f"SELECT {colsc}CASE WHEN __invalid THEN CAST(-1 AS BIGINT) "
        f"ELSE __qt END AS {out_col} FROM ({q}) __lf"
    )


def qt_calculate_point_subquery(
    base_sql: str,
    lon: str,
    lat: str,
    out_col: str = "qt",
    passthrough: tuple[str, ...] = (),
    maxlevel: int = 18,
    buffer: float = 0.05,
    dialect: str = DUCKDB,
) -> str:
    """Point cell = calculate on the 1-ulp box (quadtree.rs:369-378)."""
    return qt_calculate_subquery(
        base_sql,
        f"({lon})",
        f"({lat})",
        f"({lon}) + 1",
        f"({lat}) + 1",
        out_col,
        passthrough,
        maxlevel,
        buffer,
        dialect,
    )
