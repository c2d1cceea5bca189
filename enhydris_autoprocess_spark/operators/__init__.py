from .range_check import range_check  # noqa: F401
from .rocc import rate_of_change_check  # noqa: F401
from .curve import curve_interpolation  # noqa: F401
from .regularize import regularize  # noqa: F401
from .aggregate import aggregate, aggregate_step  # noqa: F401
from .checks import run_checks  # noqa: F401
from .gapfill import gap_fill, gap_fill_auto  # noqa: F401
from .session import sessionize, sessionize_native  # noqa: F401
