import pytest


def pytest_addoption(parser):
    parser.addoption("--runslow", action="store_true", help="also run the tiny benchmark runs")


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: a tiny run of a workload (minutes)")


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    skip = pytest.mark.skip(reason="needs --runslow")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)
