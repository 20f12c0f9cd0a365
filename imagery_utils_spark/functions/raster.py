"""Band-math functions (C9/C11) — element-wise column algebra.

The reference operates on NumPy band arrays behind GDAL; here a "band" is a
numeric column (cell-level long format).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# C11 — destination nodata by output type (/root/reference/lib/ortho_functions.py:308-313)
DST_NODATA = {"Byte": 0.0, "UInt16": 65535.0, "Float32": -9999.0}


def ndvi_col(nir: Column, red: Column, nodata: Column | float | None = None,
             eps: float = 1e-5) -> Column:
    """C9 — (nir-red)/(nir+red) with nodata and |nir+red| < 1e-5 masking
    (/root/reference/pgc_ndvi.py:402-459). Masked cells -> NULL."""
    s = nir + red
    masked = F.abs(s) < eps
    if nodata is not None:
        nd = nodata if isinstance(nodata, Column) else F.lit(float(nodata))
        masked = masked | (nir == nd) | (red == nd)
    return F.when(~masked, (nir - red) / s)
