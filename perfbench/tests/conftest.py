import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="module")
def spark():
    import run

    run.isolate()
    session = run.start_spark(2)
    yield session
    run.stop_spark(session)
