from ocr_spark._pyworker import install_lazy_zip_refresh

install_lazy_zip_refresh()
