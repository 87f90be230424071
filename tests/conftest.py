import py4j.clientserver as cs
import pytest

from webdq.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session("local[4]", app_name="webdq-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _py4j_commands(build) -> int:
    """py4j commands that one warm call of ``build`` sends to the JVM,
    without the releases of garbage-collected proxies (their timing is
    Python's)."""
    build()
    orig = cs.JavaClient.send_command
    n = 0

    def counting(self, command, *args, **kw):
        nonlocal n
        n += not command.startswith("m\n")
        return orig(self, command, *args, **kw)

    cs.JavaClient.send_command = counting
    try:
        build()
    finally:
        cs.JavaClient.send_command = orig
    return n


@pytest.fixture
def py4j_commands():
    """The counter ``_py4j_commands``: py4j commands of one warm call."""
    return _py4j_commands
