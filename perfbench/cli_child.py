"""An untraced pysqawk invocation that also records when its session is ready.

    python perfbench/cli_child.py MARK_FILE PYSQAWK_ARGS...

Runs ``sqawk_spark.cli.main`` exactly as ``python -m sqawk_spark.cli``
would, and writes to MARK_FILE the seconds from spawn (the epoch time
in ``PERFBENCH_SPAWN_TIME``) until ``get_session`` returned: the
invocation's set-up of interpreter, imports, JVM and Spark session.
"""

import os
import sys
import time

from sqawk_spark import cli


def main(argv: list[str]) -> int:
    mark = argv[0]
    get_session = cli.get_session

    def marked(*args, **kwargs):
        spark = get_session(*args, **kwargs)
        with open(mark, "w") as f:
            f.write(repr(time.time() - float(os.environ["PERFBENCH_SPAWN_TIME"])))
        return spark

    cli.get_session = marked
    return cli.main(argv[1:])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
