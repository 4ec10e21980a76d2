from .sinks import WriterPolicy, write_partitioned  # noqa: F401
from .sources import read_jdbc  # noqa: F401
