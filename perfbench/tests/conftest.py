import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import box  # noqa: E402

box.prepare_env()


@pytest.fixture(scope="session")
def event_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("eventlog"))


@pytest.fixture(scope="session")
def spark(event_dir):
    s = box.session(event_log_dir=event_dir)
    yield s
    box.shutdown(s)
